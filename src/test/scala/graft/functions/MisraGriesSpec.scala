package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Misra-Gries frequent-items guarantee, pinned independently of
  * the oracle (which only sees the exact no-eviction regime):
  * est ≤ f ≤ est + N/(k+1), and no (1/(k+1))-heavy hitter is ever
  * missing from the summary, under any partitioning. */
class MisraGriesSpec extends SparkSpec {

  private def summary(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, Long] = {
    df.agg(expr(s"misra_gries(token, $k)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // skewed synthetic stream: token "t<i>" appears (40 - i)^2 times
  private def skewed(parts: Int) = {
    import spark.implicits._
    (0 until 40).flatMap(i => Seq.fill((40 - i) * (40 - i))(s"t$i"))
      .toDF("token").repartition(parts)
  }

  test("exact regime: k above the vocabulary reproduces groupBy counts") {
    val df = skewed(8)
    val exact = df.groupBy(col("token")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary(df, 64) === exact)
  }

  test("approximate regime: MG bound and no-miss guarantee hold under any partitioning") {
    val k = 8
    for (parts <- Seq(1, 7)) {
      val df = skewed(parts)
      val exact = df.groupBy(col("token")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = exact.values.sum
      val got = summary(df, k)
      assert(got.size <= k, s"summary overflow at parts=$parts")
      got.foreach { case (t, est) =>
        val f = exact(t)
        assert(est <= f, s"overcount for $t at parts=$parts: $est > $f")
        assert(f <= est + n / (k + 1) + 1,
          s"bound broken for $t at parts=$parts: $f > $est + N/(k+1)")
      }
      // every (1/(k+1))-heavy token must be present
      exact.filter(_._2 > n / (k + 1)).keys.foreach { t =>
        assert(got.contains(t), s"missed heavy hitter $t at parts=$parts")
      }
    }
  }

  test("single-partition runs are deterministic and ranked consistently") {
    val df = skewed(1).sortWithinPartitions(col("token"))
    val a = summary(df, 8)
    val b = summary(df, 8)
    assert(a === b)
  }

  test("q133 ranks the exact top tokens on the corpus (no-eviction mode)") {
    val dir = sf("sf0.001")
    val rows = graft.operators.Relational2.q133HeavyHitters.fn(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // est counts are exact here: cross-check token totals
    val exact = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy(col("token")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("est_count")) === exact(r.getString(r.fieldIndex("token"))))
    }
    // ranks descend in count
    val counts = rows.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y })
  }

  test("non-literal or non-int capacity is an analysis error, not a silent k=64") {
    val sp = spark
    import sp.implicits._
    val df = Seq("a", "b", "a").toDF("token")
    // the registry wraps the builder's AnalysisException in a
    // SparkException during analysis — check the cause chain
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e1 = intercept[Exception] {
      df.agg(expr("misra_gries(token, cast(128 as bigint))")).collect()
    }
    assert(msgs(e1).contains("literal INT"))
    val e2 = intercept[Exception] {
      df.agg(expr("misra_gries(token, length(token))")).collect()
    }
    assert(msgs(e2).contains("literal INT"))
  }
}
