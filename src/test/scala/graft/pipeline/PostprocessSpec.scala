package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PostprocessSpec extends SparkSpec {

  test("eval metrics: grounded/nonempty/len ratio") {
    import spark.implicits._
    val df = Seq(
      ("the total is 42", "42"),
      ("some context", "not present"),
      ("ctx", "")).toDF("context", "answer")
    val got = df.select(Postprocess.evalMetrics(col("answer"), col("context")).as("m"))
      .select("m.eval_nonempty", "m.eval_grounded", "m.eval_len_ratio").collect()
    assert(got(0).getBoolean(0) && got(0).getBoolean(1))
    assert(got(1).getBoolean(0) && !got(1).getBoolean(1))
    assert(!got(2).getBoolean(0))
  }

  test("webhook url guard") {
    assert(Postprocess.urlAllowed("https://hooks.example.com/x"))
    assert(!Postprocess.urlAllowed("http://hooks.example.com/x"))
    assert(!Postprocess.urlAllowed("https://169.254.169.254/meta"))
    assert(!Postprocess.urlAllowed("https://localhost/x"))
  }

  test("delivery: per-partition transport, all rows posted") {
    import spark.implicits._
    Postprocess.CollectingTransport.sent.clear()
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").repartition(2)
    val failures = Postprocess.deliver(df, "test://collector",
      () => new Postprocess.CollectingTransport)
    assert(failures == 0)
    val bodies = Postprocess.CollectingTransport.sent.toArray.map(_.toString)
    assert(bodies.length == 3)
    assert(bodies.exists(_.contains("\"id\":1")))
  }

  test("A3/A4: observe() metrics on a pipeline pass") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("b", None), ("c", Some(2.0)))
      .toDF("k", "answer")
      .observe("run_metrics",
        count(lit(1)).as("rows"),
        count(col("answer")).as("answered"))
    df.collect()
    val metrics = df.queryExecution.observedMetrics("run_metrics")
    assert(metrics.getAs[Long]("rows") == 3L)
    assert(metrics.getAs[Long]("answered") == 2L)
  }

  test("GraftExtensions injects functions at session build (no manual register)") {
    // SparkSpec builds the session with spark.sql.extensions=graft.GraftExtensions,
    // the one place every engine function is registered
    val names = Seq("dot_product_f", "l2_sq_f", "l1_f", "llm_complete",
      "nfc_norm", "prefix_lcp", "word_shingles", "minhash_sig", "minhash_agg",
      "hll_sketch", "cms_sketch", "misra_gries", "bottomk_sample", "bottomk_pairs")
    assert(names.filterNot(spark.catalog.functionExists) === Nil)
    val got = spark.sql(
      "SELECT dot_product_f(array(cast(1.0 as float), cast(2.0 as float)), array(cast(3.0 as float), cast(4.0 as float))) AS d")
      .collect().head.getDouble(0)
    assert(got == 11.0)
  }
}
