package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.functions.expressions.HyperLogLogAgg

/** The HyperLogLog guarantees, pinned independently of the q169
  * oracle: registers match a driver-side re-derivation exactly, the
  * max-merge is invariant to partitioning AND to duplication
  * (idempotence — the property CMS's add-merge lacks), and the
  * estimate lands within the published 1.04/sqrt(m) error envelope on
  * a known-cardinality stream. */
class HyperLogLogSpec extends SparkSpec {

  private def regs(df: org.apache.spark.sql.DataFrame): Array[Int] = {
    df.agg(expr("hll_sketch(token)").as("sk"))
      .collect().head.getSeq[Int](0).toArray
  }

  /** Independent register re-derivation: bucket = first 2 hex chars,
    * rho = 1 + leading zeros of the next 40 bits. */
  private def reference(tokens: Seq[String]): Array[Int] = {
    val m = new Array[Int](HyperLogLogAgg.M)
    tokens.foreach { t =>
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(t.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val b = Integer.parseInt(hex.substring(0, 2), 16)
      val v = java.lang.Long.parseLong(hex.substring(2, 12), 16)
      val r = if (v == 0L) 41 else java.lang.Long.numberOfLeadingZeros(v) - 23
      if (r > m(b)) m(b) = r
    }
    m
  }

  private def stream(n: Int, parts: Int) = {
    import spark.implicits._
    (0 until n).map(i => s"elem-$i").toDF("token").repartition(parts)
  }

  test("registers equal the driver-side reference derivation") {
    import spark.implicits._
    val toks = (0 until 500).map(i => s"x$i")
    assert(regs(toks.toDF("token")).toSeq === reference(toks).toSeq)
  }

  test("sketch is identical under any partitioning (max-merge associativity)") {
    val one = regs(stream(2000, 1))
    Seq(3, 8, 32).foreach { p =>
      assert(regs(stream(2000, p)).toSeq === one.toSeq, s"parts=$p")
    }
  }

  test("max-merge is idempotent: duplicated input leaves the sketch unchanged") {
    import spark.implicits._
    val once = (0 until 1000).map(i => s"d$i")
    val thrice = once ++ once ++ once
    assert(regs(thrice.toDF("token").repartition(7)).toSeq ===
      regs(once.toDF("token")).toSeq)
  }

  test("estimate lands inside the HLL error envelope on known cardinalities") {
    Seq(100, 1000, 20000).foreach { n =>
      val sk = regs(stream(n, 8))
      val zeros = sk.count(_ == 0)
      val harmonic = sk.map(r => 1.0 / (1L << r)).sum
      val raw = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / harmonic
      val est = if (raw <= 640.0 && zeros > 0) 256.0 * math.log(256.0 / zeros) else raw
      // 1.04/sqrt(256) = 6.5% standard error; allow 4 sigma
      assert(math.abs(est / n - 1.0) < 0.26, s"n=$n est=$est")
    }
  }

  test("rho saturates at 41 and buckets cover the full 8-bit range") {
    val sk = regs(stream(50000, 16))
    assert(sk.forall(r => r >= 0 && r <= 41))
    // 50k distinct into 256 buckets: every bucket should be hit
    assert(sk.count(_ == 0) === 0)
  }
}
