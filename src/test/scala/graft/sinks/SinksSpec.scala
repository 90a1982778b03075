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

  test("history upsert replaces by (cache_key, file_path): a copy at another path is its own row") {
    import spark.implicits._
    val path = Files.tmp("hist-copies")
    def hist(rows: (String, String, String)*) =
      rows.map { case (k, p, r) => (k, p, "COMPLETED", r) }
        .toDF("cache_key", "file_path", "status", "result")
    Sinks.upsertHistory(spark, path, hist(("h", "/a", "1"), ("h", "/b", "1"), ("h", "/c", "1")))
    // the same content at a fourth path adds its row and keeps the others:
    // replacing by cache_key alone would drop /a, /b and /c, and the next
    // run would extract them again
    Sinks.upsertHistory(spark, path, hist(("h", "/d", "2")))
    Sinks.upsertHistory(spark, path, hist(("h", "/a", "3")))
    val got = spark.read.parquet(path).select("file_path", "result").as[(String, String)]
      .collect().toSet
    assert(got == Set("/a" -> "3", "/b" -> "1", "/c" -> "1", "/d" -> "2"))
  }

  test("history upsert of no rows writes nothing, so a later run can read the history") {
    import spark.implicits._
    val path = Files.tmp("hist-empty")
    val none = Seq.empty[(String, String, String, String)]
      .toDF("cache_key", "file_path", "status", "result")
    // a first run over an empty folder
    Sinks.upsertHistory(spark, path, none)
    assert(Sinks.readHistory(spark, path).count() == 0)
    Sinks.upsertHistory(spark, path, Seq(("h1", "/a", "COMPLETED", "{}"))
      .toDF("cache_key", "file_path", "status", "result"))
    val table = new java.io.File(path).listFiles().map(_.getName).toSet
    Sinks.upsertHistory(spark, path, none)
    assert(new java.io.File(path).listFiles().map(_.getName).toSet == table)
    assert(Sinks.readHistory(spark, path).select("cache_key").as[String].collect().toSeq == Seq("h1"))
  }

  test("bucket width: the smallest of 0, 1, 2 with rows / 16^w <= RowsPerBucket") {
    val r = Sinks.RowsPerBucket
    assert(r == (1L << 18))
    val widths = Seq(0L, r, r + 1, 16 * r, 16 * r + 1, 1000000000L).map(Sinks.bucketWidth)
    assert(widths == Seq(0, 0, 1, 1, 2, 2))
  }

  test("upsert width: a table widens when its rows overflow it, narrows only when twice its rows fit") {
    val r = Sinks.RowsPerBucket
    import Sinks.upsertWidth
    // no table, or a flat one: the rule's width for all the rows
    assert(upsertWidth(None, 0, 5) == 0)
    assert(upsertWidth(None, r - 10, 20) == 1)
    // an update that overflows the table's width widens it
    assert(upsertWidth(Some(0), r - 10, 20) == 1)
    assert(upsertWidth(Some(1), 16 * r, 1) == 2)
    // rows that fit a narrower width, but not twice over, keep the width
    assert(upsertWidth(Some(1), r - 10, 5) == 1)
    assert(upsertWidth(Some(2), 8 * r + 1, 1) == 2)
    assert(upsertWidth(Some(2), 16 * r, 1) == 2)
    // twice the rows fit narrower: a small table in the 256-bucket layout
    assert(upsertWidth(Some(2), 200, 1) == 0)
    assert(upsertWidth(Some(2), 8 * r, 1) == 1)
    assert(upsertWidth(Some(1), r / 2 - 1, 1) == 0)
  }

  test("history upsert near a width threshold keeps one width across replaced and new rows") {
    val r = Sinks.RowsPerBucket
    val path = Files.tmp("hist8")
    def rows(from: Long, until: Long, status: String) = spark.range(from, until).select(
      sha2(concat(lit("doc-"), col("id").cast("string")), 256).as("cache_key"),
      concat(lit("/f"), col("id").cast("string")).as("file_path"),
      lit(status).as("status"), lit("{}").as("result"))
    Sinks.upsertHistory(spark, path, rows(0, r - 10, "COMPLETED"))
    assert(bucketDirs(path).map(_.getName).toSeq == Seq("key_prefix=x"))
    // retried rows replacing their own, then new rows, then retried rows
    // again: each update's rows count as new, so the table's rows plus the
    // update's cross RowsPerBucket and fall back below it in turn
    val widths = Seq(rows(0, 20, "ERROR"), rows(r - 10, r - 5, "COMPLETED"),
        rows(0, 20, "COMPLETED")).map { update =>
      Sinks.upsertHistory(spark, path, update)
      bucketDirs(path).map(_.getName.length - "key_prefix=x".length).toSet
    }
    assert(widths.distinct.size == 1 && widths.head.size == 1, widths)
    val got = spark.read.parquet(path)
    assert(got.count() == r - 5)
    assert(got.filter(col("status") =!= "COMPLETED").count() == 0)
  }

  /** (file name, SHA-256 of its bytes) of every file in a directory. */
  private def fileDigests(dir: java.io.File): Set[(String, String)] =
    dir.listFiles().map { f =>
      f.getName -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(f.toPath)).map(b => f"$b%02x").mkString
    }.toSet

  private def bucketDirs(path: String): Array[java.io.File] =
    new java.io.File(path).listFiles().filter(_.getName.startsWith("key_prefix="))

  test("history upsert is partition-local: 1-row upsert touches 1 bucket") {
    import spark.implicits._
    // RowsPerBucket + 1 rows: the smallest table the rule splits, 16 ways
    val path = Files.tmp("hist2")
    def keyed(ids: org.apache.spark.sql.Column, status: String) = Seq(
      sha2(concat(lit("doc-"), ids.cast("string")), 256).as("cache_key"),
      concat(lit("/f"), ids.cast("string")).as("file_path"),
      lit(status).as("status"), lit("{}").as("result"))
    Sinks.upsertHistory(spark, path,
      spark.range(Sinks.RowsPerBucket + 1).select(keyed(col("id"), "COMPLETED"): _*))
    val buckets = bucketDirs(path)
    assert(buckets.map(_.getName).toSet == "0123456789abcdef".map(c => s"key_prefix=x$c").toSet)
    assert(buckets.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1))

    val one = spark.range(1).select(keyed(lit(-1L), "ERROR"): _*)
    val touched = "key_prefix=x" + one.select("cache_key").as[String].head().take(1)
    val before = buckets.filter(_.getName != touched).map(d => d.getName -> fileDigests(d)).toMap
    Sinks.upsertHistory(spark, path, one)
    // the other 15 buckets are byte-identical — not rewritten
    val after = bucketDirs(path).filter(_.getName != touched)
      .map(d => d.getName -> fileDigests(d)).toMap
    assert(before.size == 15 && after == before)
    val got = spark.read.parquet(path)
    assert(got.count() == Sinks.RowsPerBucket + 2)
    assert(got.filter(col("file_path") === "/f-1")
      .select("status").as[String].collect().toSeq == Seq("ERROR"))
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
    // a 2-row table is one bucket
    assert(bucketDirs(path).map(_.getName).toSeq == Seq("key_prefix=x"))
    val cur = new org.apache.hadoop.fs.Path(path, "key_prefix=x")
    val old = new org.apache.hadoop.fs.Path(path, "key_prefix=x.__old")
    assert(fs.rename(cur, old))
    // next upsert touches that same bucket; without recovery the aa13 row
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

  private def sha(i: Int): String = java.security.MessageDigest.getInstance("SHA-256")
    .digest(s"doc-$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
  private def shaRows(keys: Range, result: String) = {
    import spark.implicits._
    keys.map(i => (sha(i), s"/f$i", "COMPLETED", result))
      .toDF("cache_key", "file_path", "status", "result").repartition(4)
  }
  private def filesPerBucket(path: String): Map[String, Int] =
    bucketDirs(path).map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
  private def contents(path: String): Set[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(path).select("cache_key", "result").as[(String, String)].collect().toSet
  }
  private def expected(v1: Range, v2: Range): Set[(String, String)] =
    (v1.map(i => (sha(i), "v1")) ++ v2.map(i => (sha(i), "v2"))).toSet

  test("history upsert writes each bucket as one file from a multi-partition input") {
    // the buckets at the width the rule picks for the table's rows
    def assertOneFilePerBucket(path: String, keys: Range): Unit = {
      val width = Sinks.bucketWidth(keys.size)
      val got = filesPerBucket(path)
      assert(got.keySet == keys.map(i => "key_prefix=x" + sha(i).take(width)).toSet)
      assert(got.values.forall(_ == 1), got.filter(_._2 != 1))
    }

    // first write, then a merge that replaces 50 keys and adds 50
    val path = Files.tmp("hist5")
    Sinks.upsertHistory(spark, path, shaRows(0 until 200, "v1"))
    assertOneFilePerBucket(path, 0 until 200)
    assert(contents(path) == expected(0 until 200, 0 until 0))
    Sinks.upsertHistory(spark, path, shaRows(150 until 250, "v2"))
    assertOneFilePerBucket(path, 0 until 250)
    assert(contents(path) == expected(0 until 150, 150 until 250))

    // one-time migration of a flat legacy table
    val flat = Files.tmp("hist6")
    shaRows(0 until 200, "v1").write.parquet(flat)
    Sinks.upsertHistory(spark, flat, shaRows(150 until 250, "v2"))
    assertOneFilePerBucket(flat, 0 until 250)
    assert(contents(flat) == expected(0 until 150, 150 until 250))
  }

  test("history upsert re-lays out a small 256-bucket table as one bucket") {
    // the layout of a fixed two-character width, whatever the table's size
    val wide = Files.tmp("hist7")
    shaRows(0 until 200, "v1")
      .withColumn("key_prefix", concat(lit("x"), substring(col("cache_key"), 1, 2)))
      .write.partitionBy("key_prefix").parquet(wide)
    assert(filesPerBucket(wide).size > 100)
    // an update of one existing row leaves the row set as it was
    Sinks.upsertHistory(spark, wide, shaRows(0 until 1, "v1"))
    assert(filesPerBucket(wide) == Map("key_prefix=x" -> 1))
    assert(contents(wide) == expected(0 until 200, 0 until 0))
    assert(spark.read.parquet(wide).count() == 200)
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
