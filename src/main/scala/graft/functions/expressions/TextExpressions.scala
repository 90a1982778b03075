package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression —
  * Spark ships no normalizer builtin, and the CCNet-style dedup
  * normalization (q113) needs one INSIDE whole-stage codegen so the
  * normalize→lower→fold→hash chain stays a single generated loop over
  * the scan (a Scala UDF here would break the codegen span and pay
  * serialization per row). Delegates to `java.text.Normalizer`
  * (ICU-equivalent for NFC), matching DuckDB's `nfc_normalize` so the
  * oracle compares the same canonical form.
  *
  * This file's expressions are SQL functions registered by
  * [[graft.GraftExtensions]]; Column code reaches them by name, e.g.
  * `expr("nfc_norm(col)")` or `expr("prefix_lcp(a, b)")` (the classic
  * Column(Expression) constructors are private[sql] in Spark 4). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "nfc_norm"
}

/** Native longest-common-prefix over two ARRAY<STRING> suffix slices —
  * the q164/q168 LCP hot loop as a codegen'd early-exit scan.
  *
  * Replaces the higher-order formulation
  * `array_position(zip_with(a, b, (x, y) -> coalesce(x = y, false)), false)`
  * with IDENTICAL semantics (first mismatch index; a null element on
  * either side is a mismatch; one slice prefixing the other gives
  * min(len)) but none of its costs: zip_with materializes a boolean
  * array and compares ALL min(len) element pairs per row, while
  * adjacent suffixes in SA order overwhelmingly diverge within the
  * first few tokens — the early exit turns ~LcpBound UTF8 compares
  * per row into ~E[lcp]+1 (the measured cut on the 27.5M-row x100
  * frame is in SCALE.md Round 14). */
case class PrefixLcp(left: Expression, right: Expression) extends BinaryExpression {
  // registered as a user-callable SQL function, so typing must fail at
  // analysis time, not as a mid-job executor ClassCastException
  // (checkInputDataTypes because ExpectsInputTypes' AbstractDataType
  // is private[sql] outside the Spark tree — the BottomKAgg pattern)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!ok(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING> arguments, got ${left.dataType.sql}")
    else if (!ok(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING> arguments, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var go = true
    while (go && i < n) {
      if (a.isNullAt(i) || b.isNullAt(i) ||
          !a.getUTF8String(i).equals(b.getUTF8String(i))) go = false
      else i += 1
    }
    i.toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $i = 0;
         |while ($i < $n) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) break;
         |  if (!$a.getUTF8String($i).equals($b.getUTF8String($i))) break;
         |  $i++;
         |}
         |${ev.value} = (long) $i;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "prefix_lcp"
}
