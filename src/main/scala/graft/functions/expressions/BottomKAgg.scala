package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bottom-k sketch (KMV family — Bar-Yossef et al. 2002; Cohen &
  * Kaplan's bottom-k samples): keep the K rows with the SMALLEST
  * values of a hash column, carrying one long payload each. Because
  * the kept set is a pure function of the hash order — min-k of a
  * union is the min-k of the merged min-k's — the merge is exactly
  * associative, commutative, and idempotent, so the sketch is
  * partition-invariant and re-ingestion-proof like [[HyperLogLogAgg]],
  * and the aggregation is one partial-aggregatable pass: partials are
  * ≤ K (hash, value) pairs per group regardless of corpus size.
  *
  * With the hash taken over the row IDENTITY (the doc_id coin, the
  * q115 idiom) the kept payloads are a uniform-without-replacement
  * row sample of the group — the mergeable substrate for one-pass
  * quantile estimation at 100 TB (q240), where a global sort or
  * per-group collect would be the thing that doesn't scale. Spark
  * ships `approx_percentile` (KLL-ish) but its buffer is opaque; this
  * sketch's kept set is reproducible in portable SQL (`row_number()
  * OVER (ORDER BY hash) <= K`), so the DuckDB oracle rebuilds the
  * SAME sample and the estimate is exactly checked, not
  * tolerance-checked.
  *
  * Output: the kept payloads as ARRAY<BIGINT>, sorted ascending by
  * VALUE (the order quantile reads want; which rows were kept is
  * decided by the hash order, ties impossible for an injective
  * id-hash).
  */
case class BottomKAgg(
    hash: Expression,
    value: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    pairs: Boolean = false)
  extends TypedImperativeAggregate[java.util.TreeMap[String, Long]] {

  import BottomKAgg.K

  override def children: Seq[Expression] = Seq(hash, value)
  // analysis-time typing for the SQL registration: update blindly reads
  // UTF8String + Long, so a non-string hash / non-bigint value must be
  // an analysis-time failure, not a mid-job ClassCastException (r13
  // ADVICE; checkInputDataTypes because ExpectsInputTypes'
  // AbstractDataType is private[sql] outside the Spark tree)
  override def checkInputDataTypes(): TypeCheckResult =
    if (hash.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING hash argument, got ${hash.dataType.sql}")
    else if (value.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT value argument, got ${value.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (pairs) ArrayType(BottomKAgg.PairType, containsNull = false)
    else ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeMap[String, Long] =
    new java.util.TreeMap[String, Long]()

  private def insert(buf: java.util.TreeMap[String, Long], h: String, v: Long): Unit =
    BottomKAgg.insert(buf, h, v)

  override def update(buf: java.util.TreeMap[String, Long], row: InternalRow): java.util.TreeMap[String, Long] = {
    val h = hash.eval(row)
    val v = value.eval(row)
    if (h != null && v != null)
      insert(buf, h.asInstanceOf[UTF8String].toString, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: java.util.TreeMap[String, Long], b: java.util.TreeMap[String, Long]): java.util.TreeMap[String, Long] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      insert(a, e.getKey, e.getValue)
    }
    a
  }

  override def eval(buf: java.util.TreeMap[String, Long]): Any =
    if (pairs) {
      // the SKETCH STATE itself: (hash, value) kept pairs in hash
      // order — what a cross-batch monitor folds further
      val out = new Array[Any](buf.size)
      val it = buf.entrySet().iterator()
      var i = 0
      while (it.hasNext) {
        val e = it.next()
        out(i) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val vs = new Array[Long](buf.size)
      val it = buf.values().iterator()
      var i = 0
      while (it.hasNext) { vs(i) = it.next(); i += 1 }
      java.util.Arrays.sort(vs)
      new GenericArrayData(vs)
    }

  override def serialize(buf: java.util.TreeMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.TreeMap[String, Long]()
    var i = 0
    while (i < n) { buf.put(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BottomKAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(hash = cs(0), value = cs(1))
  override def prettyName: String = if (pairs) "bottomk_pairs" else "bottomk_sample"
}

object BottomKAgg {

  /** Sample size per group. Fixed (like [[HyperLogLogAgg.M]]) so the
    * oracle's `row_number() <= K` rebuild and the agg cannot drift;
    * 128 rows bound the quantile rank error at ~1/√K ≈ 9% of the
    * group's rank space, and the realized |est − exact| columns in
    * q240 report the actual error. */
  val K = 128

  /** THE min-k insert — the one merge both the aggregate and the
    * cross-batch [[graft.streaming.QuantileMonitor]] run, so the two
    * cannot drift. Duplicate hash (impossible for an injective
    * id-hash, but keep the operation a total function): deterministic
    * min-payload wins. */
  def insert(buf: java.util.TreeMap[String, Long], h: String, v: Long): Unit =
    if (buf.containsKey(h)) { if (v < buf.get(h)) buf.put(h, v) }
    else if (buf.size < K) buf.put(h, v)
    else if (h < buf.lastKey()) { buf.put(h, v); buf.remove(buf.lastKey()) }

  /** The pairs-mode element type: the kept (hash, value) entry. */
  val PairType: StructType = StructType(Seq(
    StructField("h", StringType, nullable = false),
    StructField("v", LongType, nullable = false)))

  /** The SQL builders ([[graft.GraftExtensions]]):
    * `bottomk_sample(hash, value)` → ARRAY<BIGINT> of ≤ K payloads,
    * value-ascending; `bottomk_pairs(hash, value)` → ARRAY<STRUCT<h,v>>
    * of the kept entries hash-ascending (the sketch STATE, for
    * cross-batch folding). */
  def build(name: String, pairs: Boolean)(es: Seq[Expression]): Expression = es match {
    case Seq(h, v) => BottomKAgg(h, v, pairs = pairs).toAggregateExpression()
    case _ => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" ->
        s"$name takes exactly two arguments (hash, value)"))
  }
}
