package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the vector hot path (SURVEY.md §4
  * custom-physical item 2): dot product and squared-L2 over
  * `ARRAY<FLOAT>` columns.
  *
  * Versus the higher-order-function formulation
  * (`aggregate(zip_with(cast, cast)))`), these generate a tight primitive
  * loop — no array<double> materialization, no lambda-variable
  * plumbing — while computing the SAME double-precision sequential fold
  * (each float widened exactly to double), so results are bit-identical
  * with the reference formulation and the DuckDB oracle.
  *
  * [[graft.GraftExtensions]] registers them as `dot_product_f`,
  * `l2_sq_f` and `l1_f`; Column code reaches them by name, e.g.
  * `expr("dot_product_f(a, b)")` (the classic Column(Expression)
  * constructors are private[sql] in Spark 4).
  */
abstract class FloatVectorFold extends BinaryExpression {
  // inputs are produced by the engine (ARRAY<FLOAT> embedding columns);
  // no ExpectsInputTypes — AbstractDataType is private[sql]
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  /** scalar kernel: contribution of one element pair */
  protected def combine(a: Float, b: Float): Double
  /** java source for the kernel, over `va`/`vb` double temps */
  protected def combineCode: String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += combine(a.getFloat(i), b.getFloat(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double va = (double) $a.getFloat($i);
         |  double vb = (double) $b.getFloat($i);
         |  $acc += $combineCode;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ in double precision. */
case class DotProductFloat(left: Expression, right: Expression) extends FloatVectorFold {
  override protected def combine(a: Float, b: Float): Double = a.toDouble * b.toDouble
  override protected def combineCode: String = "va * vb"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "dot_product_f"
}

/** Σ (aᵢ-bᵢ)² in double precision. */
case class L2SqFloat(left: Expression, right: Expression) extends FloatVectorFold {
  override protected def combine(a: Float, b: Float): Double = {
    val d = a.toDouble - b.toDouble; d * d
  }
  override protected def combineCode: String = "(va - vb) * (va - vb)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "l2_sq_f"
}

/** Σ |aᵢ-bᵢ| in double precision. */
case class L1Float(left: Expression, right: Expression) extends FloatVectorFold {
  override protected def combine(a: Float, b: Float): Double =
    math.abs(a.toDouble - b.toDouble)
  override protected def combineCode: String = "java.lang.Math.abs(va - vb)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "l1_f"
}
