package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  test("custom dot/l2sq expressions are bit-identical to the HOF fold") {
    val e = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q)).select(
      col("vec_id"),
      VectorFunctions.dotProduct(col("embedding"), col("qv")).as("hof_dot"),
      expr("dot_product_f(embedding, qv)").as("fast_dot"),
      VectorFunctions.l2Sq(col("embedding"), col("qv")).as("hof_l2"),
      expr("l2_sq_f(embedding, qv)").as("fast_l2"),
      VectorFunctions.l1(col("embedding"), col("qv")).as("hof_l1"),
      expr("l1_f(embedding, qv)").as("fast_l1"))
    val bad = both.filter(
      col("hof_dot") =!= col("fast_dot") ||
      col("hof_l2") =!= col("fast_l2") ||
      col("hof_l1") =!= col("fast_l1")).count()
    assert(bad == 0, "custom expressions diverge from HOF fold")
    assert(both.count() == 500)
  }

  test("custom expressions participate in whole-stage codegen") {
    val e = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val df = e.crossJoin(broadcast(q))
      .select(expr("dot_product_f(embedding, qv)").as("s"))
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators print with the "*(n)" prefix in the final plan
    assert(plan.contains("WholeStageCodegen") ||
      plan.matches("(?s).*\\*\\(\\d+\\) Project \\[dot_product_f.*"), plan.take(500))
  }

  test("null and length-mismatch behavior") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (None, Some(Seq(1.0f))),
      (Some(Seq(1.0f, 2.0f, 9.0f)), Some(Seq(2.0f, 3.0f)))  // extra dims ignored
    ).toDF("a", "b")
    val got = df.select(expr("dot_product_f(a, b)").as("d"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(got(0) == 11.0)
    assert(got(1) == null)
    assert(got(2) == 8.0)
  }
}
