package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-grams of a text, in first-occurrence order — the
  * dedup and corpus tiers' shingler as one pass per row.
  *
  * Replaces the higher-order formulation
  * {{{
  * element_at(transform(array(split(trim(text), '\\s+')), w ->
  *   case when size(w) >= n
  *     then array_distinct(transform(sequence(1, size(w) - n + 1),
  *       i -> concat_ws(' ', element_at(w, i), …, element_at(w, i + n - 1))))
  *     else array(trim(text)) end), 1)
  * }}}
  * with the same result on every input: the same space-only `trim`, the
  * same `\s+` regex split with limit -1 (so a leading tab or newline
  * yields a leading "" token), the whole trimmed text as the one
  * shingle when there are fewer than `n` tokens, and `[null]` for a
  * null text. The lambdas ran interpreted per element; this runs inside
  * the generated code and splits once per row. */
case class WordShingles(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (!TextKernels.isBinaryString(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING text, got ${left.dataType.sql}")
    else if (!right.foldable || right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a constant INT n")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  // the replaced form's type: the fallback array(trim(text)) holds a
  // null exactly when text can be null
  override def dataType: DataType = ArrayType(StringType, left.nullable)
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextKernels.wordShingles(left.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${t.code}
      |ArrayData ${ev.value} = ${TextKernels.Name}.wordShingles(
      |  ${t.isNull} ? null : ${t.value}, $n);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "word_shingles"
}

/** MinHash signature of a row's hex digests: entry k is the
  * lexicographic minimum of the digests' k-th 8-character slice.
  *
  * Replaces `transform(sequence(0, k - 1), k -> array_min(transform(
  * hashes, h -> substr(h, k * 8 + 1, 8))))`, which built a substring per
  * (hash, k) through two interpreted lambdas. When every digest is ASCII
  * (sha2 output always is) the slices are compared in place as bytes
  * and only the k winners are copied out; otherwise each slice is cut
  * with `substringSQL` and compared with `binaryCompare`, exactly as
  * `substr` and `array_min` do. Null digests are skipped, so an empty or
  * all-null array gives k nulls, as `array_min` does. */
case class MinHashSig(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    left.dataType match {
      case ArrayType(st, _) if TextKernels.isBinaryString(st) =>
        if (!right.foldable || right.dataType != IntegerType)
          TypeCheckResult.TypeCheckFailure(s"$prettyName requires a constant INT k")
        else TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<STRING> hashes, got ${other.sql}")
    }

  private lazy val k: Int = right.eval().asInstanceOf[Int]

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextKernels.minHashSig(left.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = left.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${h.code}
      |ArrayData ${ev.value} = ${TextKernels.Name}.minHashSig(
      |  ${h.isNull} ? null : ${h.value}, $k);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "minhash_sig"
}

/** The row kernels behind [[WordShingles]] and [[MinHashSig]]: one
  * implementation for both the interpreted `eval` and the generated
  * code, which calls these static methods. */
object TextKernels {
  private[expressions] val Name = "graft.functions.expressions.TextKernels"

  private[expressions] def isBinaryString(dt: DataType): Boolean = dt match {
    case st: StringType => st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  private val Whitespace = UTF8String.fromString("\\s+")

  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array[Any](null))
    val t = text.trim()
    val w = t.split(Whitespace, -1)
    if (w.length < n) return new GenericArrayData(Array[Any](t))
    val seen = new java.util.HashSet[UTF8String]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](w.length - n + 1)
    var i = 0
    while (i + n <= w.length) {
      var bytes = n - 1
      var j = i
      while (j < i + n) { bytes += w(j).numBytes(); j += 1 }
      val buf = new Array[Byte](bytes)
      var off = 0
      j = i
      while (j < i + n) {
        if (j > i) { buf(off) = ' '; off += 1 }
        w(j).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
        off += w(j).numBytes()
        j += 1
      }
      val gram = UTF8String.fromBytes(buf)
      if (seen.add(gram)) out += gram
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def minHashSig(hashes: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Any](k)
    if (hashes == null) return new GenericArrayData(sig)
    // the non-null digests, read once per row (array_min skips nulls)
    val hs = new Array[UTF8String](hashes.numElements())
    var m = 0
    var ascii = true
    var i = 0
    while (i < hs.length) {
      if (!hashes.isNullAt(i)) {
        hs(m) = hashes.getUTF8String(i)
        ascii &&= hs(m).isFullAscii
        m += 1
      }
      i += 1
    }
    if (m == 0) return new GenericArrayData(sig)
    var s = 0
    while (s < k) {
      sig(s) = if (ascii) minAsciiSlice(hs, m, s * 8) else minSlice(hs, m, s * 8 + 1)
      s += 1
    }
    new GenericArrayData(sig)
  }

  /** Min over the ASCII digests of bytes [from, from + 8), clamped to
    * each digest's length — `substr`'s slice, compared in place. */
  private def minAsciiSlice(hs: Array[UTF8String], m: Int, from: Int): UTF8String = {
    var best = hs(0)
    var bestFrom = math.min(from, best.numBytes())
    var bestLen = math.min(8, best.numBytes() - bestFrom)
    var i = 1
    while (i < m) {
      val h = hs(i)
      val a = math.min(from, h.numBytes())
      val len = math.min(8, h.numBytes() - a)
      if (compareSlices(h, a, len, best, bestFrom, bestLen) < 0) {
        best = h; bestFrom = a; bestLen = len
      }
      i += 1
    }
    val buf = new Array[Byte](bestLen)
    var j = 0
    while (j < bestLen) { buf(j) = best.getByte(bestFrom + j); j += 1 }
    UTF8String.fromBytes(buf)
  }

  private def compareSlices(x: UTF8String, xa: Int, xl: Int,
      y: UTF8String, ya: Int, yl: Int): Int = {
    val n = math.min(xl, yl)
    var j = 0
    while (j < n) {
      val c = (x.getByte(xa + j) & 0xff) - (y.getByte(ya + j) & 0xff)
      if (c != 0) return c
      j += 1
    }
    xl - yl
  }

  /** Min of `substr(h, pos, 8)` over the non-null digests. */
  private def minSlice(hs: Array[UTF8String], m: Int, pos: Int): UTF8String = {
    var best = hs(0).substringSQL(pos, 8)
    var i = 1
    while (i < m) {
      val s = hs(i).substringSQL(pos, 8)
      if (s.binaryCompare(best) < 0) best = s
      i += 1
    }
    best
  }
}
