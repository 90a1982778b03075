package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min Sketch as a custom aggregate (Cormode & Muthukrishnan
  * 2005) — the frequency-sketch sibling of [[MisraGriesAgg]]: a fixed
  * `depth × width` grid of counters; each arriving token increments
  * one counter per row, chosen by that row's hash; a point query reads
  * the MINIMUM of its `depth` counters. Estimates only ever
  * OVER-count (collisions add, nothing subtracts), and with width w
  * the overcount is ≤ e·N/w with probability 1−e^−depth — the
  * standard CMS bound.
  *
  * Where Misra-Gries keeps the identity of ≤ k frequent tokens, CMS
  * answers point queries for ANY token after the fact — the pair
  * covers both sketch shapes a telemetry tier needs. Merge is
  * element-wise addition (exactly associative/commutative), the ideal
  * map-side-combine: partials are `depth·width` longs per group
  * REGARDLESS of corpus size.
  *
  * The row hashes are the first 4·depth hex chars of the token's
  * sha-256, 4 chars per row, `mod width` — deterministic and, unlike
  * library murmur mixes, reproducible in portable SQL arithmetic
  * (MixOps.bucketExpr's derivation at a row offset), which is what
  * makes q154 fully DuckDB-oracle-able: the oracle REBUILDS the grid
  * with GROUP BY and must match the native sketch counter-for-counter.
  * depth ≤ 16 keeps the derivation inside one 64-hex-char digest.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int = 4,
    width: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && depth <= 16, "cms depth must be in [1,16]")
  require(width >= 2 && width <= 65536, "cms width must be in [2,65536]")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val hex = CountMinAgg.sha256Hex(v.asInstanceOf[UTF8String].toString)
      var j = 0
      while (j < depth) {
        buf(j * width + CountMinAgg.bucket(hex, j, width)) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach(out.writeLong)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n)(in.readLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
  override def prettyName: String = "cms_sketch"
}

object CountMinAgg {

  private[expressions] def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new StringBuilder(64)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Row `j`'s bucket: hex chars [4j, 4j+4) of the digest as a 16-bit
    * int, mod width — the exact arithmetic [[bucketSql]] emits. */
  private[expressions] def bucket(hex: String, j: Int, width: Int): Int = {
    var v = 0
    var i = 4 * j
    while (i < 4 * j + 4) {
      v = (v << 4) | Character.digit(hex.charAt(i), 16)
      i += 1
    }
    v % width
  }

  /** The SAME bucket derivation as portable SQL text (runs on both
    * Spark and DuckDB): positional hex arithmetic over the digest —
    * `hashSql` must produce a lowercase-hex sha-256, `rowSql` the CMS
    * row index (literal or column). */
  def bucketSql(hashSql: String, rowSql: String, width: Int): String =
    (1 to 4).map { i =>
      s"(instr('0123456789abcdef', substr($hashSql, 4 * ($rowSql) + $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
    }.mkString("(", " + ", s") % $width")

  /** The `cms_sketch` SQL builder ([[graft.GraftExtensions]]):
    * `cms_sketch(token)` (4×256) or `cms_sketch(token, depth, width)`
    * with literal INTs. Non-literal shape parameters are an analysis
    * error — silently defaulting would change the e·N/w bound without a
    * word (the MisraGriesAgg rule). */
  def build(es: Seq[Expression]): Expression = {
    def lit(e: Expression, what: String): Int = e match {
      case Literal(v, IntegerType) => v.asInstanceOf[Int]
      case other => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" ->
          (s"cms_sketch $what must be a literal INT, got: " + other.sql)))
    }
    es match {
      case Seq(c) => CountMinAgg(c).toAggregateExpression()
      case Seq(c, d, w) =>
        CountMinAgg(c, lit(d, "depth"), lit(w, "width")).toAggregateExpression()
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" ->
          "cms_sketch takes (token) or (token, depth, width)"))
    }
  }
}
