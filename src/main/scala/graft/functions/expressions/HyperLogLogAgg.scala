package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog as a custom aggregate (Flajolet et al. 2007) — the
  * cardinality-sketch sibling of [[CountMinAgg]] (frequency) and
  * [[MisraGriesAgg]] (identity): m = 2^p registers, each holding the
  * MAXIMUM over arriving values of rho(w) = 1 + leading-zero count of
  * a hash suffix. Merge is element-wise MAX — exactly associative,
  * commutative, and idempotent, so the sketch is partition-invariant
  * AND re-ingestion-proof (feeding the same element twice is a no-op,
  * which neither CMS nor a plain count can claim). Partials are m
  * bytes-ish per group regardless of corpus size — the canonical
  * mergeable distinct-count summary for a 100 TB telemetry tier where
  * `count(DISTINCT …)` would shuffle the full key set.
  *
  * Spark ships `approx_count_distinct` (its own HLL++), but its
  * register grid is opaque and its hash non-portable, so its output
  * can only ever be tolerance-checked (q77). This aggregate derives
  * the bucket from the first 2 hex chars of the element's sha-256
  * (8 bits → m = 256) and rho from the next 10 hex chars (a 40-bit
  * suffix), both reproducible in portable SQL arithmetic — the DuckDB
  * oracle REBUILDS the register grid with `GROUP BY bucket,
  * max(rho)` and must agree register-for-register, making the sketch
  * itself exactly oracle-checked; only the final estimate (a ln) is
  * rounded.
  *
  * rho ∈ [1, 41]: 1 + leading zeros within the 40-bit suffix, with
  * the all-zero suffix pinned to 41. The harmonic sum Σ 2^-M[j] is
  * exact in IEEE doubles for any summation order (every term is a
  * multiple of 2^-41 and the sum is < 2^9, well inside 53 bits), so
  * the estimate arithmetic is order-invariant too.
  */
case class HyperLogLogAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  import HyperLogLogAgg._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): Array[Int] = new Array[Int](M)

  override def update(buf: Array[Int], row: InternalRow): Array[Int] = {
    val v = child.eval(row)
    if (v != null) {
      val hex = CountMinAgg.sha256Hex(v.asInstanceOf[UTF8String].toString)
      val b = bucket(hex)
      val r = rho(hex)
      if (r > buf(b)) buf(b) = r
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    buf.foreach(out.writeByte) // rho <= 41 fits a byte
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.fill(M)(in.readUnsignedByte())
  }

  override def withNewMutableAggBufferOffset(o: Int): HyperLogLogAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HyperLogLogAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
  override def prettyName: String = "hll_sketch"
}

object HyperLogLogAgg {

  /** Register count (p = 8). Fixed so the SQL derivation stays a
    * 2-hex-char read; 256 registers give ~6.5% standard error, the
    * audit query reports the realized error against exact truth. */
  val M = 256

  /** Suffix width in bits (10 hex chars); rho ∈ [1, Suffix+1]. */
  val Suffix = 40

  /** Bucket: hex chars [0, 2) as an 8-bit int — exactly [[bucketSql]]. */
  private[expressions] def bucket(hex: String): Int =
    (Character.digit(hex.charAt(0), 16) << 4) | Character.digit(hex.charAt(1), 16)

  /** rho: 1 + leading zeros of the 40-bit int at hex chars [2, 12);
    * all-zero suffix → 41 — exactly [[rhoSql]]. */
  private[expressions] def rho(hex: String): Int = {
    var v = 0L
    var i = 2
    while (i < 12) { v = (v << 4) | Character.digit(hex.charAt(i), 16); i += 1 }
    if (v == 0L) Suffix + 1
    else java.lang.Long.numberOfLeadingZeros(v) - (64 - Suffix) + 1
  }

  /** The bucket derivation as portable SQL text over a lowercase-hex
    * sha-256 column (same hex-arithmetic idiom as
    * [[CountMinAgg.bucketSql]], fixed to the first two chars). */
  def bucketSql(hashSql: String): String =
    s"((instr('0123456789abcdef', substr($hashSql, 1, 1)) - 1) * 16 + " +
      s"(instr('0123456789abcdef', substr($hashSql, 2, 1)) - 1))"

  /** The 40-bit suffix value as portable SQL (hex chars 3..12). */
  def suffixSql(hashSql: String): String =
    (0 until 10).map { i =>
      s"(instr('0123456789abcdef', substr($hashSql, ${3 + i}, 1)) - 1) * " +
        s"${java.math.BigInteger.valueOf(16L).pow(9 - i)}"
    }.mkString("(", " + ", ")")

  /** rho as portable SQL: a CASE ladder of exact integer power-of-two
    * comparisons — no log2 floats anywhere near the registers. */
  def rhoSql(hashSql: String): String = {
    val v = suffixSql(hashSql)
    val arms = (1 to Suffix).map { r =>
      s"WHEN $v >= ${1L << (Suffix - r)} THEN $r"
    }.mkString(" ")
    s"(CASE $arms ELSE ${Suffix + 1} END)"
  }

  /** The `hll_sketch(token)` SQL builder ([[graft.GraftExtensions]]):
    * ARRAY<INT> of 256 registers. */
  def build(es: Seq[Expression]): Expression = es match {
    case Seq(c) => HyperLogLogAgg(c).toAggregateExpression()
    case _ => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" ->
        "hll_sketch takes exactly one argument"))
  }
}
