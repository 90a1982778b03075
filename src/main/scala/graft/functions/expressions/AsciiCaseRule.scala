package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, UnaryExpression, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UPPER_OR_LOWER
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** `lower(x)`/`upper(x)` on a UTF8_BINARY string, with an ASCII fast
  * path: an all-ASCII value maps with `toLowerCaseAscii`/
  * `toUpperCaseAscii`; any other value goes through Spark's own
  * `CollationSupport.Lower/Upper.exec` with the session's
  * `spark.sql.icu.caseMappings.enabled`, so every input maps exactly as
  * Spark's `Lower`/`Upper` would. Prints as `lower(x)`/`upper(x)`: the
  * flags are not arguments of the plan text. */
case class AsciiCaseMap(child: Expression, upper: Boolean, useICU: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true

  private def collationId = CollationFactory.UTF8_BINARY_COLLATION_ID

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[UTF8String]
    if (upper) {
      if (v.isFullAscii) v.toUpperCaseAscii
      else CollationSupport.Upper.exec(v, collationId, useICU)
    } else {
      if (v.isFullAscii) v.toLowerCaseAscii
      else CollationSupport.Lower.exec(v, collationId, useICU)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ascii, op) = if (upper) ("toUpperCaseAscii", "Upper") else ("toLowerCaseAscii", "Lower")
    defineCodeGen(ctx, ev, c =>
      s"($c.isFullAscii() ? $c.$ascii() : " +
        s"org.apache.spark.sql.catalyst.util.CollationSupport.$op.exec($c, $collationId, $useICU))")
  }

  override def flatArguments: Iterator[Any] = Iterator(child)
  override def prettyName: String = if (upper) "upper" else "lower"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Rewrites every UTF8_BINARY `Lower`/`Upper` into [[AsciiCaseMap]].
  *
  * Why: in Spark 4.1 a binary-collation `lower`/`upper` with ICU case
  * mappings on (the default) calls `CollationSupport.Lower.execBinaryICU`,
  * which runs the static initializer of `CollationAwareUTF8String` — the
  * ICU case-mapping tables, 1.67–1.70 s measured alone in a fresh JVM,
  * and every task thread that reaches it waits. One `lower` in a
  * query's first stage (`naSanitize`, `globMatch`) paid it on every cold
  * run, for ASCII text whose mapping needs no tables. With the rewrite
  * the tables load only if a non-ASCII string is ever case-mapped.
  *
  * Results are unchanged for every input (see [[AsciiCaseMap]]); the
  * rule runs after analysis, so column names are unchanged too. Other
  * collations keep Spark's expression. Injected by `GraftExtensions`. */
object AsciiCaseRule extends Rule[LogicalPlan] {
  private def binary(e: Expression): Boolean = TextKernels.isBinaryString(e.dataType)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    lazy val icu = conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    plan.transformAllExpressionsWithPruning(_.containsPattern(UPPER_OR_LOWER)) {
      case Lower(c) if binary(c) => AsciiCaseMap(c, upper = false, icu)
      case Upper(c) if binary(c) => AsciiCaseMap(c, upper = true, icu)
    }
  }
}
