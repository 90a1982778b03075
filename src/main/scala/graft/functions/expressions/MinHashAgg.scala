package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a custom aggregate (SURVEY.md §2.11
  * TypedImperativeAggregate tier): given one 64-hex sha256 digest per
  * shingle ROW (exploded layout), maintain the K per-slice minima —
  * signature entry k is min over rows of digest[8k..8k+8).
  *
  * Versus the array-based formulation (collect shingles per doc →
  * transform → array_min), the aggregate never materializes the shingle
  * set: state is K fixed-width strings, merged associatively — the
  * partial-aggregation (map-side combine) shape that survives 100 TB.
  */
case class MinHashAgg(
    child: Expression,
    k: Int = 8,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[String]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): Array[String] = Array.fill(k)(null)

  override def update(buf: Array[String], row: org.apache.spark.sql.catalyst.InternalRow): Array[String] = {
    val v = child.eval(row)
    if (v != null) {
      val hex = v.asInstanceOf[UTF8String].toString
      var i = 0
      while (i < k && (i + 1) * 8 <= hex.length) {
        val slice = hex.substring(i * 8, i * 8 + 8)
        if (buf(i) == null || slice.compareTo(buf(i)) < 0) buf(i) = slice
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[String], b: Array[String]): Array[String] = {
    var i = 0
    while (i < k) {
      if (a(i) == null || (b(i) != null && b(i).compareTo(a(i)) < 0)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[String]): Any =
    new GenericArrayData(buf.map(s => UTF8String.fromString(if (s == null) "" else s)))

  override def serialize(buf: Array[String]): Array[Byte] =
    buf.map(s => if (s == null) "-" else s).mkString(",").getBytes("UTF-8")

  override def deserialize(bytes: Array[Byte]): Array[String] =
    new String(bytes, "UTF-8").split(",", -1).map(s => if (s == "-") null else s)

  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
  override def prettyName: String = "minhash_agg"
}
