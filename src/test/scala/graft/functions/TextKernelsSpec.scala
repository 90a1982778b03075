package graft.functions

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.{SparkEntry, SparkSpec, Tables}
import graft.functions.expressions.AsciiCaseMap
import graft.sources.FileScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The text kernels must be row-identical to the expressions they
  * replaced: `word_shingles` to the split/transform/array_distinct
  * lambda, `minhash_sig` to the nested substr/array_min lambda, and the
  * ASCII case rule's `lower`/`upper` to Spark's own `Lower`/`Upper` —
  * on edge inputs, on the sf0.001 documents table, and through both the
  * generated and the interpreted evaluation paths. */
class TextKernelsSpec extends SparkSpec {

  /** The shingle lambda as DedupOps (n = 3) and CorpusOps (n = 5) wrote it. */
  private def lambdaShingles(n: Int): Column = {
    val elems = (0 until n).map(j => if (j == 0) "element_at(w, i)" else s"element_at(w, i + $j)")
    expr(
      s"""element_at(transform(array(split(trim(text), '\\\\s+')), w ->
         |  case when size(w) >= $n
         |    then array_distinct(transform(sequence(1, size(w) - ${n - 1}),
         |      i -> concat_ws(' ', ${elems.mkString(", ")})))
         |    else array(trim(text)) end), 1)""".stripMargin)
  }

  private val lambdaSig = expr(
    """transform(sequence(0, 7),
      |  k -> array_min(transform(hashes, h -> substr(h, k * 8 + 1, 8))))""".stripMargin)

  private val edgeTexts: Seq[String] = Seq(
    "", " ", "     ", "\t", "\n", "one", "one two", "one two three",
    "  one two three four five six  ", "\tone two three", "one two three\n",
    "\n\tone two three four five", "one two three\t\n", "a\t\tb  c\u000Bd\fe\rf",
    "a b c a b c a b c a b c", "x x x x x x x", "the cat the cat the cat sat",
    "héllo wörld ßtraße ünïcode tëxt hère", "日本 語 テ キ スト です ね",
    "a b c d e f", "emoji 🙂 in 🙂 the 🙂 middle 🙂 of 🙂 text", null)

  private def withCodegen[A](on: Boolean)(f: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertSameColumns(df: DataFrame, want: Column, got: Column): Unit = {
    val both = df.select(want.as("want"), got.as("got"))
    assert(both.schema("got").dataType === both.schema("want").dataType)
    assert(both.schema("got").nullable === both.schema("want").nullable)
    val rows = both.collect()
    val bad = rows.filter(r => r.get(0) != r.get(1))
    assert(bad.isEmpty, s"${bad.length}/${rows.length} rows differ, e.g. ${bad.take(3).mkString("; ")}")
  }

  test("word_shingles equals the lambda shingler on edge texts, n = 3 and 5, both eval paths") {
    import spark.implicits._
    // repartitioned, so the projection runs in a stage rather than being
    // folded into the local relation at optimization time
    val df = edgeTexts.map(Option(_)).toDF("text").repartition(2)
    for (on <- Seq(true, false); n <- Seq(3, 5)) withCodegen(on) {
      assertSameColumns(df, lambdaShingles(n), expr(s"word_shingles(text, $n)"))
      // a non-nullable text: the fallback array then holds no null
      val strict = df.select(coalesce(col("text"), lit("")).as("text"))
      assertSameColumns(strict, lambdaShingles(n), expr(s"word_shingles(text, $n)"))
    }
    // the edges, pinned explicitly
    def shingles(t: String) =
      Seq(Option(t)).toDF("text").select(expr("word_shingles(text, 3)")).head.getSeq[String](0)
    assert(shingles("a b c a b c a b") === Seq("a b c", "b c a", "c a b"))
    assert(shingles("  a b  ") === Seq("a b"))
    assert(shingles("\ta b") === Seq(" a b"))
    assert(shingles(null) === Seq(null))
  }

  test("word_shingles equals the lambda shingler on the sf0.001 documents") {
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    for (n <- Seq(3, 5)) assertSameColumns(docs, lambdaShingles(n), expr(s"word_shingles(text, $n)"))
  }

  test("minhash_sig equals the nested substr/array_min lambda, both eval paths") {
    import spark.implicits._
    val sha = "9f86d081884c7d659a2feaa0c55ad015a3bf4f1b2b0b822cd15d6c15b0f00a08"
    val edges: Seq[Option[Seq[String]]] = Seq(
      Some(Seq(sha)), Some(Seq(sha, sha.reverse, sha.toUpperCase)),
      Some(Seq("abc")), Some(Seq("", "x")), Some(Seq("0123456789abcdef0123", "0123456789abcde")),
      Some(Seq("ñandú0123456789xyzñandú0123456789xyz", sha)),
      Some(Seq("日本語テキストです。あいうえおかきくけこさしすせそ", "日本語テキストです")),
      Some(Seq(null, sha)), Some(Seq(null, null)), Some(Seq.empty), None)
    val df = edges.toDF("hashes").repartition(2)
    for (on <- Seq(true, false)) withCodegen(on) {
      assertSameColumns(df, lambdaSig, expr("minhash_sig(hashes, 8)"))
    }
    val empty = Seq(Option(Seq.empty[String])).toDF("hashes")
      .select(expr("minhash_sig(hashes, 8)")).head.getSeq[String](0)
    assert(empty === Seq.fill(8)(null))
  }

  test("minhash_sig equals the lambda on the sf0.001 documents' sha2 shingle digests") {
    val hashed = Tables.load(spark, sf("sf0.001"), "documents")
      .select(expr("transform(word_shingles(text, 3), s -> sha2(s, 256))").as("hashes"))
    assertSameColumns(hashed, lambdaSig, expr("minhash_sig(hashes, 8)"))
  }

  private val caseTexts: Seq[String] = Seq(
    "HeLLo World 123 !@#", "", "İstanbul", "ISTANBUL ıi", "STRASSE ß", "ΟΔΟΣ ΟΔΟΣ",
    "σΣ ΣΑΣ Σ.", "mixed ÀbC dEF", "ǅungla", "ﬀ ﬁ", "ÉCOLE école", null)

  /** Spark's own expression, evaluated directly (the rule never sees it). */
  private def evalOf(e: Expression): String = Option(e.eval(null)).map(_.toString).orNull

  test("the ASCII case rule maps exactly as Spark's Lower/Upper, ICU on and off") {
    import spark.implicits._
    val df = caseTexts.map(Option(_)).toDF("s").repartition(2)
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.getOption(key)
    try for (icu <- Seq(true, false); on <- Seq(true, false)) {
      spark.conf.set(key, icu.toString)
      withCodegen(on) {
        val got = df.select(col("s"), lower(col("s")), upper(col("s"))).collect()
        got.foreach { r =>
          val lit = Literal.create(r.getString(0), StringType)
          assert((r.getString(1), r.getString(2)) === ((evalOf(Lower(lit)), evalOf(Upper(lit)))),
            s"icu=$icu codegen=$on on ${r.getString(0)}")
        }
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the rewrite keeps column names and the lower(x)/upper(x) plan text") {
    import spark.implicits._
    val df = Seq("Ab").toDF("s").repartition(1).select(lower(col("s")), upper(col("s")))
    assert(df.columns.toSeq === Seq("lower(s)", "upper(s)"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("lower(s#") && plan.contains("upper(s#"), plan)
    assert(caseNodes(df.queryExecution.optimizedPlan) === ((0, 2)))
    assert(df.head.toSeq === Seq("ab", "AB"))
  }

  /** (Spark Lower/Upper on UTF8_BINARY, AsciiCaseMap) node counts. */
  private def caseNodes(plan: LogicalPlan): (Int, Int) = {
    var builtin = 0
    var ascii = 0
    plan.foreach(_.expressions.foreach(_.foreach {
      case Lower(c) if c.dataType == StringType => builtin += 1
      case Upper(c) if c.dataType == StringType => builtin += 1
      case _: AsciiCaseMap => ascii += 1
      case _ =>
    }))
    (builtin, ascii)
  }

  test("q36's and FileScan.scan's optimized plans hold no UTF8_BINARY Lower/Upper") {
    val q36 = SparkEntry.registry.find(_.name == "q36_typed_extraction").get
    val (sparkQ36, asciiQ36) = caseNodes(q36.fn(spark, sf("sf0.001")).queryExecution.optimizedPlan)
    assert(sparkQ36 === 0 && asciiQ36 > 0)
    val dir = Files.createTempDirectory("ascii-case-scan")
    try {
      Files.writeString(dir.resolve("A.TXT"), "one")
      Files.writeString(dir.resolve("b.txt"), "two")
      val scanned = FileScan.scan(spark, FileScan.ScanConfig(dir.toString, glob = "*.txt"))
      val (sparkScan, asciiScan) = caseNodes(scanned.queryExecution.optimizedPlan)
      assert(sparkScan === 0 && asciiScan > 0)
      assert(scanned.count() === 2)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("Tables re-infers a rewritten table file and reads the same rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-schema-memo")
    val file = dir.resolve("t.parquet")
    def writeSingleFile(df: DataFrame): Unit = {
      val out = dir.resolve("out")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
      deleteTree(out)
    }
    try {
      writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      val first = Tables.load(spark, dir.toString, "t")
      assert(first.schema === spark.read.parquet(file.toString).schema)
      assert(first.orderBy("id").collect().toSeq === spark.read.parquet(file.toString).orderBy("id").collect().toSeq)
      // same file again: same schema, same rows
      val again = Tables.load(spark, dir.toString, "t")
      assert(again.schema === first.schema)
      assert(again.orderBy("id").collect().toSeq === first.orderBy("id").collect().toSeq)
      // rewritten with a new column (new length and mtime): inferred afresh
      writeSingleFile(Seq((3L, "c", 1.5)).toDF("id", "s", "x"))
      val rewritten = Tables.load(spark, dir.toString, "t")
      assert(rewritten.columns.toSeq === Seq("id", "s", "x"))
      assert(rewritten.collect().toSeq.map(_.toSeq) === Seq(Seq(3L, "c", 1.5)))
    } finally deleteTree(dir)
  }
}
