package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary as a custom aggregate (the
  * TypedImperativeAggregate tier, next to MinHashAgg): maintain at
  * most k counters over a token stream; when a new token arrives with
  * all k slots taken, every counter decrements (evicting zeros) — the
  * classic frequent-items algorithm (Misra & Gries 1982).
  *
  * Guarantees (for true frequency f and stream length N):
  *   est ≤ f  ≤  est + N/(k+1)
  * and every token with f > N/(k+1) is PRESENT in the summary — so
  * with k counters you never miss a (1/(k+1))-heavy hitter, whatever
  * the arrival order. Counts depend on arrival order (any order obeys
  * the bound); with k ≥ distinct-token count no eviction ever fires
  * and the summary is EXACT, which is what makes q133 oracle-able.
  *
  * Merge is the Agarwal et al. "Mergeable Summaries" rule: pointwise
  * sum, then subtract the (k+1)-st largest count from every counter
  * and drop the non-positives — error adds across merges, the bound
  * survives, and no tie-break is needed (strictly-greater counters
  * number at most k by definition). That associative merge is exactly
  * the map-side-combine shape Spark partial aggregation needs.
  *
  * Scale: state is ≤ k (token, long) pairs per group REGARDLESS of
  * corpus size — the frequent-token report at 100 TB costs a narrow
  * scan plus k-sized partials, where the exact groupBy alternative
  * shuffles the full vocabulary. Eval orders by (est desc, token
  * code-point asc) so output is deterministic given the final state.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("token", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long], row: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(row)
    if (v != null) {
      val tok = v.asInstanceOf[UTF8String].toString
      buf.get(tok) match {
        case Some(c) => buf.update(tok, c + 1)
        case None if buf.size < k => buf.update(tok, 1L)
        case None =>
          // decrement-all: evict zeros, the arriving token is dropped
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { t =>
            val c = buf(t) - 1
            if (c == 0L) dead += t else buf.update(t, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long], b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (t, c) => a.update(t, a.getOrElse(t, 0L) + c) }
    if (a.size > k) {
      // subtract the (k+1)-st largest count, drop non-positives
      val counts = a.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - (k + 1))
      val dead = a.iterator.filter(_._2 <= cut).map(_._1).toArray
      dead.foreach(a.remove)
      a.keysIterator.toArray.foreach(t => a.update(t, a(t) - cut))
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortWith { case ((ta, ca), (tb, cb)) =>
      if (ca != cb) ca > cb
      else java.util.Arrays.compare(ta.codePoints().toArray, tb.codePoints().toArray) < 0
    }
    new GenericArrayData(sorted.map { case (t, c) =>
      InternalRow(UTF8String.fromString(t), c)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) => out.writeUTF(t); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { val t = in.readUTF(); m.update(t, in.readLong()); i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
  override def prettyName: String = "misra_gries"
}

object MisraGriesAgg {

  /** The Agarwal et al. mergeable-summaries rule as a driver-side
    * function — the SAME merge the aggregate applies between
    * partitions, exposed so cross-batch accumulation (a streaming
    * foreachBatch monitor holding one k-counter state) provably
    * composes with the in-batch aggregate: error stays ≤ N/(k+1) for
    * the TOTAL stream length N, and no (1/(k+1))-heavy token is lost
    * across batch boundaries. */
  def mergeSummaries(a: Map[String, Long], b: Map[String, Long], k: Int): Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    a.foreach { case (t, c) => m.update(t, c) }
    b.foreach { case (t, c) => m.update(t, m.getOrElse(t, 0L) + c) }
    if (m.size > k) {
      val counts = m.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - (k + 1))
      m.filter(_._2 > cut).map { case (t, c) => t -> (c - cut) }.toMap
    } else m.toMap
  }

  /** The `misra_gries` SQL builder ([[graft.GraftExtensions]]):
    * `misra_gries(token)` (k = 64) or `misra_gries(token, k)` with a
    * literal INT capacity. Anything else for k is an analysis error —
    * silently falling back to 64 would change the N/(k+1) error bound
    * without a word. */
  def build(es: Seq[Expression]): Expression = {
    val k = es match {
      case Seq(_) => 64
      case Seq(_, Literal(v, IntegerType)) => v.asInstanceOf[Int]
      case Seq(_, other) => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" ->
          ("misra_gries capacity must be a literal INT, got: " + other.sql)))
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" ->
          "misra_gries takes (token) or (token, k literal INT)"))
    }
    MisraGriesAgg(es.head, k).toAggregateExpression()
  }
}
