package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SinksSpec extends SparkSpec {
  import SchemaDDL._

  private val schema = StructType(Seq(
    StructField("invoice_total", DoubleType),
    StructField("customer", StringType),
    StructField("paid", BooleanType),
    StructField("line_items", ArrayType(StringType))))

  test("create DDL: permanent columns + dialect type mapping") {
    val pg = createTable(Postgres, "results", schema)
    assert(pg.startsWith("""CREATE TABLE IF NOT EXISTS "results""""))
    assert(pg.contains(""""metadata" JSONB"""))
    assert(pg.contains(""""invoice_total" DOUBLE PRECISION"""))
    assert(pg.contains(""""line_items" JSONB"""))

    val bq = createTable(BigQuery, "results", schema)
    assert(bq.contains("`invoice_total` FLOAT64"))
    assert(bq.contains("`line_items` JSON"))

    val ms = createTable(MsSql, "results", schema)
    assert(ms.contains("[invoice_total] FLOAT"))
    assert(ms.contains("[customer] NVARCHAR(MAX)"))

    // all 8 dialects produce runnable-shaped DDL; the existence guard
    // only where the engine supports it (never MSSQL, Oracle pre-23c)
    dialects.foreach { d =>
      val ddl = createTable(d, "t", schema)
      if (d == MsSql || d == Oracle)
        assert(ddl.startsWith("CREATE TABLE ") && !ddl.contains("IF NOT EXISTS"), d.name)
      else assert(ddl.contains("CREATE TABLE IF NOT EXISTS"), d.name)
      permanentColumns(d).foreach { case (n, _) => assert(ddl.contains(n), s"${d.name}/$n") }
    }
  }

  test("migration ALTER syntax is dialect-exact for all 8 dialects") {
    val one = StructType(Seq(StructField("paid", BooleanType)))
    val live = Seq("id", "created_by", "created_at", "metadata", "status",
      "error_message") // v2 layout: only `paid` is missing
    def alter(d: Dialect): String = migrate(d, "results", live, one).head
    assert(alter(Postgres) == """ALTER TABLE "results" ADD COLUMN "paid" BOOLEAN""")
    assert(alter(MySql) == "ALTER TABLE `results` ADD COLUMN `paid` BOOLEAN")
    assert(alter(MariaDb) == "ALTER TABLE `results` ADD COLUMN `paid` BOOLEAN")
    // T-SQL rejects the COLUMN keyword; Oracle wants a parenthesized list
    assert(alter(MsSql) == "ALTER TABLE [results] ADD [paid] BIT")
    assert(alter(Oracle) == """ALTER TABLE "results" ADD ("paid" NUMBER(1))""")
    assert(alter(Redshift) == """ALTER TABLE "results" ADD COLUMN "paid" BOOLEAN""")
    assert(alter(Snowflake) == """ALTER TABLE "results" ADD COLUMN "paid" BOOLEAN""")
    assert(alter(BigQuery) == "ALTER TABLE `results` ADD COLUMN `paid` BOOL")
  }

  test("migration: v1 table gets missing permanent cols + *_v2 twins") {
    val live = Seq("id", "created_by", "created_at", "invoice_total", "customer")
    val stmts = migrate(Postgres, "results", live, schema)
    assert(stmts.exists(_.contains(""""metadata" JSONB""")))
    assert(stmts.exists(_.contains(""""invoice_total_v2" JSONB""")))
    assert(stmts.exists(_.contains(""""paid" BOOLEAN""")))
    assert(stmts.forall(_.startsWith("""ALTER TABLE "results" ADD COLUMN""")))
    // v2 layout: no twins added again
    val v2live = live ++ Seq("metadata", "status", "error_message", "paid",
      "line_items", "invoice_total_v2", "customer_v2", "paid_v2", "line_items_v2")
    assert(migrate(Postgres, "results", v2live, schema).isEmpty)
  }

  test("shapeForDb: status derivation + single-column mode") {
    import spark.implicits._
    val df = Seq(
      (1.0, "acme", Option.empty[String]),
      (2.0, "bad co", Some("boom"))
    ).toDF("total", "customer", "error_message")
    val shaped = Sinks.shapeForDb(df, "wf-1")
    val statuses = shaped.orderBy("total").select("status").as[String].collect()
    assert(statuses.toSeq == Seq("SUCCESS", "ERROR"))
    assert(shaped.columns.contains("id") && shaped.columns.contains("created_at"))

    val single = Sinks.shapeForDb(df, "wf-1", singleColumnMode = true)
    assert(single.columns.toSet ==
      Set("id", "created_by", "created_at", "metadata", "data", "status", "error_message"))
    val data = single.orderBy(col("data")).select("data").as[String].collect().head
    assert(data.contains("acme") || data.contains("bad co"))
  }

  test("history upsert: merge keeps others, replaces same cache_key") {
    import spark.implicits._
    val path = Files.tmp("hist")
    val first = Seq(("h1", "/a", "COMPLETED", "{}"), ("h2", "/b", "ERROR", null))
      .toDF("cache_key", "file_path", "status", "result")
    Sinks.upsertHistory(spark, path, first)
    val second = Seq(("h2", "/b", "COMPLETED", """{"ok":1}"""), ("h3", "/c", "COMPLETED", "{}"))
      .toDF("cache_key", "file_path", "status", "result")
    Sinks.upsertHistory(spark, path, second)

    val got = spark.read.parquet(path)
    assert(got.count() == 3)
    val h2 = got.filter($"cache_key" === "h2").select("status").as[String].collect()
    assert(h2.toSeq == Seq("COMPLETED"))
  }

  test("history upsert is partition-local: 1-row upsert touches 1 bucket") {
    import spark.implicits._
    val path = Files.tmp("hist2")
    val first = Seq(("aa11", "/a", "COMPLETED", "{}"), ("bb22", "/b", "ERROR", "{}"))
      .toDF("cache_key", "file_path", "status", "result")
    Sinks.upsertHistory(spark, path, first)
    def listing(bucket: String): Set[(String, Long)] = {
      val d = new java.io.File(path, s"key_prefix=$bucket")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet
    }
    val aaBefore = listing("xaa")
    Sinks.upsertHistory(spark, path,
      Seq(("bb22", "/b", "COMPLETED", "{}"))
        .toDF("cache_key", "file_path", "status", "result"))
    // the aa bucket's files are byte-identical — not rewritten
    assert(listing("xaa") == aaBefore)
    val got = spark.read.parquet(path)
    assert(got.count() == 2)
    import org.apache.spark.sql.functions.col
    assert(got.filter(col("cache_key") === "bb22")
      .select("status").as[String].collect().toSeq == Seq("COMPLETED"))
  }

  test("history upsert recovers a bucket orphaned by a crash mid-promote") {
    import spark.implicits._
    val path = Files.tmp("hist3")
    val first = Seq(("aa11", "/a", "COMPLETED", "{}"), ("bb22", "/b", "COMPLETED", "{}"))
      .toDF("cache_key", "file_path", "status", "result")
    Sinks.upsertHistory(spark, path, first)
    // simulate the crash window: cur renamed to __old, staged promote
    // never landed — the bucket's ONLY copy is the .__old directory
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(path, "key_prefix=xaa")
    val old = new org.apache.hadoop.fs.Path(path, "key_prefix=xaa.__old")
    assert(fs.rename(cur, old))
    // next upsert touches that same prefix; without recovery the aa13 row
    // would be merged against an invisible bucket and aa11 silently lost
    Sinks.upsertHistory(spark, path,
      Seq(("aa13", "/c", "COMPLETED", "{}"))
        .toDF("cache_key", "file_path", "status", "result"))
    val got = spark.read.parquet(path)
    assert(got.count() == 3)
    assert(got.select("cache_key").as[String].collect().toSet == Set("aa11", "aa13", "bb22"))
    assert(!fs.exists(old))
  }

  test("history upsert recovers a flat-table migration crash") {
    import spark.implicits._
    val path = Files.tmp("hist4")
    val first = Seq(("cc33", "/a", "COMPLETED", "{}"))
      .toDF("cache_key", "file_path", "status", "result")
    Sinks.upsertHistory(spark, path, first)
    // simulate a crash between rename(dst → __old) and rename(staged → dst)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    Sinks.upsertHistory(spark, path,
      Seq(("dd44", "/d", "COMPLETED", "{}"))
        .toDF("cache_key", "file_path", "status", "result"))
    val got = spark.read.parquet(path)
    assert(got.select("cache_key").as[String].collect().toSet == Set("cc33", "dd44"))
  }

  test("history upsert writes each bucket as one file from a multi-partition input") {
    import spark.implicits._
    def sha(i: Int): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"doc-$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def rows(keys: Range, result: String) =
      keys.map(i => (sha(i), s"/f$i", "COMPLETED", result))
        .toDF("cache_key", "file_path", "status", "result").repartition(4)
    def filesPerBucket(path: String): Map[String, Int] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("key_prefix="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    def contents(path: String): Set[(String, String)] =
      spark.read.parquet(path).select("cache_key", "result").as[(String, String)]
        .collect().toSet
    def expected(v1: Range, v2: Range): Set[(String, String)] =
      (v1.map(i => (sha(i), "v1")) ++ v2.map(i => (sha(i), "v2"))).toSet
    def assertOneFilePerBucket(path: String, keys: Range): Unit = {
      val got = filesPerBucket(path)
      assert(got.keySet == keys.map(i => "key_prefix=x" + sha(i).take(2)).toSet)
      assert(got.values.forall(_ == 1), got.filter(_._2 != 1))
    }

    // first write, then a merge that replaces 50 keys and adds 50
    val path = Files.tmp("hist5")
    Sinks.upsertHistory(spark, path, rows(0 until 200, "v1"))
    assert(filesPerBucket(path).size >= 64)
    assertOneFilePerBucket(path, 0 until 200)
    assert(contents(path) == expected(0 until 200, 0 until 0))
    Sinks.upsertHistory(spark, path, rows(150 until 250, "v2"))
    assertOneFilePerBucket(path, 0 until 250)
    assert(contents(path) == expected(0 until 150, 150 until 250))

    // one-time migration of a flat legacy table
    val flat = Files.tmp("hist6")
    rows(0 until 200, "v1").write.parquet(flat)
    Sinks.upsertHistory(spark, flat, rows(150 until 250, "v2"))
    assertOneFilePerBucket(flat, 0 until 250)
    assert(contents(flat) == expected(0 until 150, 150 until 250))
  }

  test("usage rollup sums counters per run") {
    import spark.implicits._
    val usage = Seq(
      ("r1", 10L, 100L, 20L, 130L, 0.001),
      ("r1", 5L, 50L, 10L, 65L, 0.0005),
      ("r2", 0L, 10L, 5L, 15L, 0.0001)
    ).toDF("run_id", "embedding_tokens", "prompt_tokens", "completion_tokens",
      "total_tokens", "cost_in_dollars")
    val got = Sinks.usageRollup(usage).orderBy("run_id").collect()
    assert(got(0).getAs[Long]("total_tokens") == 195L)
    assert(got(0).getAs[Double]("cost_in_dollars") == 0.0015)
    assert(got(1).getAs[Long]("prompt_tokens") == 10L)
  }

  test("review queue: enqueue with TTL, expired packets filtered on dequeue") {
    import spark.implicits._
    val qdir = Files.tmp("queue")
    val fresh = Seq(("f1", "result-a")).toDF("file", "result")
    Sinks.enqueueReview(fresh, qdir, ttlSeconds = 3600)
    val expired = Seq(("f2", "result-b")).toDF("file", "result")
    Sinks.enqueueReview(expired, qdir, ttlSeconds = -5)   // already past TTL
    val got = Sinks.dequeueReview(spark, qdir).select("file").as[String].collect()
    assert(got.toSeq == Seq("f1"))
  }

  object Files {
    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-$prefix").resolve("tbl").toString
  }
}
