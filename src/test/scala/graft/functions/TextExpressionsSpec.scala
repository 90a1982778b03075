package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PrefixLcp must be ROW-IDENTICAL to the zip_with formulation it
  * replaced — mismatch-inside, prefix-of (shorter end wins), equal
  * slices, empties, and null elements (a null on either side is a
  * mismatch at that position, the coalesce(x = y, false) semantic). */
class TextExpressionsSpec extends SparkSpec {

  private def zipWithForm = expr(
    """case when array_position(
      |  zip_with(sufA, sufB, (x, y) -> coalesce(x = y, false)), false) = 0
      |then least(size(sufA), size(sufB))
      |else array_position(
      |  zip_with(sufA, sufB, (x, y) -> coalesce(x = y, false)), false) - 1
      |end""".stripMargin).cast("long")

  test("prefix_lcp equals the zip_with form on randomized and edge-case slices") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c")
    val random = (1 to 2000).map { _ =>
      val n = rnd.nextInt(8); val m = rnd.nextInt(8)
      (Seq.fill(n)(vocab(rnd.nextInt(3))), Seq.fill(m)(vocab(rnd.nextInt(3))))
    }
    val edges: Seq[(Seq[String], Seq[String])] = Seq(
      (Seq.empty, Seq.empty), (Seq.empty, Seq("a")),
      (Seq("a", "b"), Seq("a", "b")),            // equal
      (Seq("a", "b"), Seq("a", "b", "c")),       // strict prefix
      (Seq("a", null, "c"), Seq("a", null, "c")), // null = mismatch at 1
      (Seq("a", "b"), Seq("a", null)))
    val df = (random ++ edges).toDF("sufA", "sufB")
      .withColumn("want", zipWithForm)
      .withColumn("got", expr("prefix_lcp(sufA, sufB)"))
    val bad = df.filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, s"diverged on ${bad.take(5).mkString("; ")}")
    // the null-element semantic, pinned explicitly
    val nullCase = df.filter(size(col("sufA")) === 3 && col("sufA")(1).isNull)
      .select(col("got")).collect()
    assert(nullCase.forall(_.getLong(0) === 1L))
  }

  test("prefix_lcp survives both eval paths: codegen and interpreted") {
    import spark.implicits._
    val df = Seq((Seq("x", "y", "z"), Seq("x", "y", "q")))
      .toDF("sufA", "sufB")
    assert(df.select(expr("prefix_lcp(sufA, sufB)")).head.getLong(0) === 2L)
    // interpreted path: force eval through a non-codegen context
    val e = graft.functions.expressions.PrefixLcp(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x", "y", "z"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x", "q"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
    assert(e.eval(null) === 1L)
  }

  test("prefix_lcp rejects non-ARRAY<STRING> arguments at analysis time") {
    import spark.implicits._
    val df = Seq((1L, Seq("a"))).toDF("n", "suf")
    // wrong type on either side must be an AnalysisException, not a
    // mid-job executor ClassCastException (r14 ADVICE)
    for (bad <- Seq("prefix_lcp(n, suf)", "prefix_lcp(suf, n)")) {
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(expr(bad)).collect()
      }
      assert(ex.getMessage.contains("ARRAY<STRING>"), ex.getMessage)
    }
  }
}
