package graft.operators

import graft.SparkSpec
import graft.functions.expressions.BottomKAgg
import org.apache.spark.sql.functions._

/** The bottom-k quantile sketch: min-k-by-hash must be a pure function
  * of the input SET — partition-invariant, re-ingestion-proof, exact
  * when the group fits in K — and its quantile reads must land near
  * the true ranks on groups that don't. */
class BottomKSpec extends SparkSpec {

  private def base = spark.range(5000).select(
    (col("id") % 4).as("g"), col("id").as("doc"),
    expr("sha2(cast(id as string), 256)").as("h"),
    pmod(xxhash64(col("id"), lit("v")), lit(100000)).as("v"))

  private def sample(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] = {
    df.groupBy(col("g")).agg(expr("bottomk_sample(h, v)").as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
  }

  test("min-k merge is partition-invariant and re-ingestion-proof; exact when the group fits") {
    val one = sample(base.repartition(1))
    assert(one.values.forall(_.length === BottomKAgg.K))
    // the kept set cannot depend on physical partitioning (merge is
    // associative/commutative)...
    assert(sample(base.repartition(32)) === one)
    // ...nor on feeding the same rows twice (idempotent, the property
    // an add-merge sketch like CMS cannot claim)
    assert(sample(base.union(base)) === one)
    // a group that fits inside K: the "sample" IS the group
    val small = spark.range(50).select(lit(0L).as("g"), col("id").as("doc"),
      expr("sha2(cast(id as string), 256)").as("h"), (col("id") * 7).as("v"))
    val s = sample(small)(0L)
    assert(s === (0L until 50L).map(_ * 7))
  }

  test("quantile reads land near the true ranks on a 1250-row group") {
    val vs = sample(base)(0L)
    val all = base.filter(col("g") === 0).select(col("v"))
      .collect().map(_.getLong(0)).sorted
    for (q <- Seq(0.5, 0.9)) {
      val est = vs(math.floor((vs.length - 1) * q).toInt)
      val rank = all.count(_ <= est).toDouble / all.length
      assert(math.abs(rank - q) < 0.15,
        s"p$q estimate $est sits at true rank $rank")
    }
  }

  test("q240 contract at sf0.01: sample sizes, internal consistency, exact-when-small") {
    val rows = graft.operators.Relational2.q240QuantileSketch
      .fn(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, m) = (r.getAs[Long]("n_docs"), r.getAs[Long]("sample_m"))
      assert(m === math.min(BottomKAgg.K.toLong, n))
      assert(r.getAs[Long]("est_p50") <= r.getAs[Long]("est_p90"))
      assert(r.getAs[Long]("exact_p50") <= r.getAs[Long]("exact_p90"))
      if (n <= BottomKAgg.K) {
        assert(r.getAs[Long]("err_p50") === 0L)
        assert(r.getAs[Long]("err_p90") === 0L)
      }
    }
  }
}
