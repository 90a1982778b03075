package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The cross-batch quantile monitor must fold to EXACTLY the one-shot
  * bottom-k sketch under any batch split, survive replay, and read
  * the same quantiles q240 reads. */
class QuantileMonitorSpec extends SparkSpec {

  private def corpus = spark.range(3000).select(
    concat(lit("s"), pmod(col("id"), lit(3))).as("source"),
    expr("sha2(cast(id as string), 256)").as("h"),
    pmod(xxhash64(col("id"), lit("v")), lit(100000)).as("v"))

  private def oneShot: Map[String, Seq[Long]] = {
    corpus.groupBy(col("source"))
      .agg(expr("bottomk_sample(h, v)").as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
  }

  test("folded state equals the one-shot sketch under any batch split, and replay is free") {
    val m = new QuantileMonitor
    // three uneven micro-batches by id range
    m.observe(corpus.filter(col("v") < 20000))
    m.observe(corpus.filter(col("v") >= 20000 && col("v") < 30000))
    m.observe(corpus.filter(col("v") >= 30000))
    assert(m.sampleGrid === oneShot)
    // idempotent: re-delivering a whole batch changes nothing
    m.observe(corpus.filter(col("v") < 20000))
    assert(m.sampleGrid === oneShot)
  }

  test("quantile reads use q240's rank arithmetic") {
    val m = new QuantileMonitor
    m.observe(corpus)
    val grid = oneShot
    for (g <- grid.keys; q <- Seq(0.5, 0.9)) {
      val vs = grid(g)
      assert(m.quantile(g, q) ===
        Some(vs(math.floor((vs.length - 1) * q).toInt)))
    }
    assert(m.quantile("nope", 0.5) === None)
  }

  test("group-cardinality bound refuses, never evicts, and tracked groups stay observable") {
    val m = new QuantileMonitor(maxGroups = 2)
    m.observe(corpus.filter(col("source") =!= "s2")) // s0, s1 fit
    val before = m.sampleGrid
    val e = intercept[IllegalStateException] {
      m.observe(corpus) // s2 would be a 3rd group
    }
    assert(e.getMessage.contains("high-cardinality"))
    // refused batch left state untouched; existing groups still fold
    assert(m.sampleGrid === before)
    m.observe(corpus.filter(col("source") === "s0"))
    assert(m.sampleGrid === before)
  }

  test("bottomk_pairs rejects a non-bigint value at analysis time") {
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      corpus.select(col("source"), col("h"), col("v").cast("string").as("v"))
        .groupBy(col("source")).agg(expr("bottomk_pairs(h, v)")).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("bigint"))
  }

  test("bottomk_pairs is the sketch state: hash-ascending, same kept set as bottomk_sample") {
    val rows = corpus.groupBy(col("source"))
      .agg(expr("bottomk_pairs(h, v)").as("ps"))
      .collect()
    val sample = oneShot
    rows.foreach { r =>
      val ps = r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getString(0), p.getLong(1)))
      assert(ps.map(_._1) === ps.map(_._1).sorted, "state must be hash-ascending")
      assert(ps.map(_._2).sorted === sample(r.getString(0)))
    }
  }
}
