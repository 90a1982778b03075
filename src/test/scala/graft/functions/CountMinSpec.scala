package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.functions.expressions.CountMinAgg

/** The Count-Min guarantees, pinned independently of the q154 oracle:
  * estimates never under-count, exactly reproduce truth when the grid
  * is collision-free, are invariant to partitioning (element-wise-add
  * merge is exactly associative), and the native bucket arithmetic
  * matches its own portable-SQL rendering. */
class CountMinSpec extends SparkSpec {

  private def sketch(df: org.apache.spark.sql.DataFrame,
      depth: Int, width: Int): Array[Long] = {
    df.agg(expr(s"cms_sketch(token, $depth, $width)").as("sk"))
      .collect().head.getSeq[Long](0).toArray
  }

  /** Independent re-derivation of the estimate: hex chars [4j, 4j+4)
    * of the token's sha-256, mod width, min over rows. */
  private def estimate(sk: Array[Long], tok: String,
      depth: Int, width: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(tok.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    (0 until depth).map { j =>
      sk(j * width + Integer.parseInt(hex.substring(4 * j, 4 * j + 4), 16) % width)
    }.min
  }

  private def skewed(parts: Int) = {
    import spark.implicits._
    (0 until 40).flatMap(i => Seq.fill((40 - i) * (40 - i))(s"t$i"))
      .toDF("token").repartition(parts)
  }

  test("estimates over-count only, and the wide collision-free grid is exact") {
    val df = skewed(8)
    val exact = df.groupBy(col("token")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // narrow grid: overestimate-only
    val narrow = sketch(df, 4, 16)
    exact.foreach { case (t, f) =>
      assert(estimate(narrow, t, 4, 16) >= f, s"undercount for $t")
    }
    // wide grid (40 tokens into 4×4096 cells): expect zero collisions
    val wide = sketch(df, 4, 4096)
    exact.foreach { case (t, f) =>
      assert(estimate(wide, t, 4, 4096) === f, s"collision-free grid must be exact for $t")
    }
    // total mass conservation: every row sums to N
    val n = exact.values.sum
    (0 until 4).foreach { j =>
      assert(narrow.slice(j * 16, (j + 1) * 16).sum === n, s"row $j mass")
    }
  }

  test("merge is exact: the sketch is identical under any partitioning") {
    val one = sketch(skewed(1), 4, 64)
    val many = sketch(skewed(13), 4, 64)
    assert(one.toSeq === many.toSeq, "element-wise-add merge must be order-free")
  }

  test("native bucket matches the portable SQL arithmetic for every row") {
    import spark.implicits._
    val toks = Seq("alpha", "beta", "", "snow☃man").toDF("tok")
    (0 until 4).foreach { j =>
      val sqlBuckets = toks.selectExpr(
          "tok", CountMinAgg.bucketSql("sha2(tok, 256)", j.toString, 256) + " as b")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      sqlBuckets.foreach { case (t, b) =>
        val hex = java.security.MessageDigest.getInstance("SHA-256")
          .digest(t.getBytes("UTF-8")).map(x => f"${x & 0xff}%02x").mkString
        assert(Integer.parseInt(hex.substring(4 * j, 4 * j + 4), 16) % 256 === b,
          s"bucket drift for '$t' row $j")
      }
    }
  }

  test("non-literal shape parameters are an analysis error, not a silent default") {
    import spark.implicits._
    val df = Seq("a").toDF("token")
    val e = intercept[Exception] {
      df.selectExpr("cms_sketch(token, cast(4 as int) + 0, 256)").collect()
    }
    assert(e.getMessage.contains("literal INT"), s"got: ${e.getMessage}")
  }
}
