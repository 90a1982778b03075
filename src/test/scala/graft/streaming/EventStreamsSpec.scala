package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class EventStreamsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("file_hash", StringType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def writeBatch(dir: String, rows: Seq[String], name: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
      rows.mkString("\n").getBytes("UTF-8"))

  test("T1/T2: AvailableNow processes each file exactly once across runs") {
    val src = Files.createTempDirectory("graft-stream-src").toString
    val sink = Files.createTempDirectory("graft-stream-sink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    writeBatch(src, Seq(
      """{"file_hash":"a","ts":"2024-01-01T00:00:00Z","event_type":"x","user_id":1,"value":1.0}""",
      """{"file_hash":"b","ts":"2024-01-01T00:01:00Z","event_type":"x","user_id":1,"value":2.0}"""),
      "batch1.json")

    val s1 = EventStreams.incrementalFiles(spark, src, schema)
    EventStreams.runAvailableNow(s1, sink, ckpt)
    assert(spark.read.parquet(sink).count() == 2)

    // second run with one NEW file: only the new rows land
    writeBatch(src, Seq(
      """{"file_hash":"c","ts":"2024-01-01T00:02:00Z","event_type":"y","user_id":2,"value":3.0}"""),
      "batch2.json")
    val s2 = EventStreams.incrementalFiles(spark, src, schema)
    EventStreams.runAvailableNow(s2, sink, ckpt)
    val got = spark.read.parquet(sink)
    assert(got.count() == 3)
    assert(got.select("file_hash").distinct().count() == 3)
  }

  test("T2: in-stream dedup by content hash") {
    val src = Files.createTempDirectory("graft-dedup-src").toString
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    writeBatch(src, Seq(
      """{"file_hash":"same","ts":"2024-01-01T00:00:00Z","event_type":"x","user_id":1,"value":1.0}""",
      """{"file_hash":"same","ts":"2024-01-01T00:05:00Z","event_type":"x","user_id":1,"value":2.0}""",
      """{"file_hash":"other","ts":"2024-01-01T00:06:00Z","event_type":"x","user_id":1,"value":3.0}"""),
      "b.json")
    val deduped = EventStreams.dedupByHash(
      EventStreams.incrementalFiles(spark, src, schema), "file_hash")
    EventStreams.runAvailableNowToMemory(deduped, "dedup_out", ckpt)
    assert(spark.table("dedup_out").count() == 2)
  }

  test("T3/T4: watermarked tumbling windows aggregate event time") {
    val src = Files.createTempDirectory("graft-win-src").toString
    val ckpt = Files.createTempDirectory("graft-win-ckpt").toString
    writeBatch(src, Seq(
      """{"file_hash":"1","ts":"2024-01-01T00:00:30Z","event_type":"x","user_id":1,"value":1.0}""",
      """{"file_hash":"2","ts":"2024-01-01T00:01:30Z","event_type":"x","user_id":1,"value":2.0}""",
      """{"file_hash":"3","ts":"2024-01-01T00:07:00Z","event_type":"x","user_id":1,"value":4.0}"""),
      "b.json")
    val win = EventStreams.windowedCounts(
      EventStreams.incrementalFiles(spark, src, schema), "ts")
    EventStreams.runAvailableNowToMemory(win, "win_out", ckpt, complete = true)
    val rows = spark.table("win_out")
      .select(col("window.start").cast("string").as("s"), col("n"), col("total_value"))
      .orderBy("s").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n") == 2L && rows(0).getAs[Double]("total_value") == 3.0)
    assert(rows(1).getAs[Long]("n") == 1L && rows(1).getAs[Double]("total_value") == 4.0)
  }

  test("T4: sliding windows accumulated over 2 runs equal the batch window() on the union") {
    val src = Files.createTempDirectory("graft-slide-src").toString
    val ckpt = Files.createTempDirectory("graft-slide-ckpt").toString
    val batch1 = Seq(
      """{"file_hash":"1","ts":"2024-01-01T00:10:00Z","event_type":"x","user_id":1,"value":1.0}""",
      """{"file_hash":"2","ts":"2024-01-01T00:20:00Z","event_type":"x","user_id":1,"value":2.0}""")
    val batch2 = Seq(
      """{"file_hash":"3","ts":"2024-01-01T00:50:00Z","event_type":"y","user_id":2,"value":4.0}""")

    writeBatch(src, batch1, "b1.json")
    val s1 = EventStreams.slidingCounts(
      EventStreams.incrementalFiles(spark, src, schema), "ts")
    EventStreams.runAvailableNowToMemory(s1, "slide_out", ckpt, complete = true)
    writeBatch(src, batch2, "b2.json")
    val s2 = EventStreams.slidingCounts(
      EventStreams.incrementalFiles(spark, src, schema), "ts")
    EventStreams.runAvailableNowToMemory(s2, "slide_out", ckpt, complete = true)

    val streamed = spark.table("slide_out")
      .select(col("window.start").cast("string").as("s"),
        col("n"), col("total_value"))
      .orderBy("s").collect()
    // batch reference: the same window() over all rows at once
    val all = spark.read.schema(schema)
      .json(spark.createDataset(batch1 ++ batch2)(
        org.apache.spark.sql.Encoders.STRING))
    val expected = all.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").cast("string").as("s"),
        col("n"), col("total_value"))
      .orderBy("s").collect()
    assert(streamed.length === expected.length)
    streamed.zip(expected).foreach { case (g, e) =>
      assert(g.getString(0) === e.getString(0))
      assert(g.getAs[Long]("n") === e.getAs[Long]("n"))
      assert(g.getAs[Double]("total_value") === e.getAs[Double]("total_value"))
    }
    // every event lands in exactly duration/slide = 4 windows
    assert(streamed.map(_.getAs[Long]("n")).sum === 4L * 3)
  }

  test("T4: session windows close after the gap") {
    val src = Files.createTempDirectory("graft-sess-src").toString
    val ckpt = Files.createTempDirectory("graft-sess-ckpt").toString
    writeBatch(src, Seq(
      """{"file_hash":"1","ts":"2024-01-01T00:00:00Z","event_type":"x","user_id":1,"value":1.0}""",
      """{"file_hash":"2","ts":"2024-01-01T00:10:00Z","event_type":"x","user_id":1,"value":2.0}""",
      """{"file_hash":"3","ts":"2024-01-01T02:00:00Z","event_type":"x","user_id":1,"value":4.0}"""),
      "b.json")
    val sess = EventStreams.sessionCounts(
      EventStreams.incrementalFiles(spark, src, schema), "ts")
    EventStreams.runAvailableNowToMemory(sess, "sess_out", ckpt, complete = true)
    val rows = spark.table("sess_out").orderBy(col("session_window.start")).collect()
    assert(rows.length == 2)                 // 30-min gap splits the two groups
    assert(rows(0).getAs[Long]("n_events") == 2L)
    assert(rows(1).getAs[Long]("n_events") == 1L)
  }

  test("LM perplexity gate scores a document stream against an offline model (foreachBatch)") {
    // the production shape: model trained offline on a reference
    // corpus, each incremental micro-batch scored against the
    // broadcast model — in-domain text scores low, OOV gibberish
    // backs off to the smoothing floor and scores high
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType)))
    val src = Files.createTempDirectory("graft-lm-src").toString
    val ckpt = Files.createTempDirectory("graft-lm-ckpt").toString
    val ref = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // in-domain probe: real corpus text (tokens of doc 0)
    val inDomain = ref.filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
      .toLowerCase.split("\\s+").filter(_.matches("[a-z]+"))
      .take(15).mkString(" ")
    assert(inDomain.split(" ").length >= 5, "corpus doc 0 too short for the probe")
    val gibberish = "zzq qqzx vvkj wwqy jjxz qzzv kkjw yyqw xxzj zzqv"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s0"}"""
    writeBatch(src, Seq(doc(101, inDomain), doc(102, gibberish)), "b1.json")
    // model trained ONCE, outside the stream — each micro-batch only
    // pays the scoring joins, never a reference-corpus re-scan
    val model = graft.operators.LmOps.trainLm(ref)
    val seen = scala.collection.mutable.Map[Long, Double]()
    graft.streaming.EventStreams.runAvailableNowForeachBatch(
      graft.streaming.EventStreams.incrementalFiles(spark, src, docSchema), ckpt) {
      (batch, _) =>
        graft.operators.LmOps.avgNllWith(batch, model).collect()
          .foreach(r => seen(r.getLong(0)) = r.getDouble(2))
    }
    assert(seen.keySet === Set(101L, 102L))
    assert(seen(101L) < seen(102L),
      s"in-domain ${seen(101L)} must score below gibberish ${seen(102L)}")
  }

  test("corpus gates + exact dedup run unchanged over a document stream, exactly-once across runs") {
    // the hygiene tier is pure Column logic, so incremental corpus
    // ingest is the SAME code as batch: stream → gateKeep filter →
    // content-hash dropDuplicates (state in the checkpoint)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType)))
    val src = Files.createTempDirectory("graft-cur-src").toString
    val sink = Files.createTempDirectory("graft-cur-sink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-cur-ckpt").toString
    val passA = "the cat sat on a mat and the dog ran off to the park today"
    val passC = "a ship left the harbor of dover and sailed to the coast of france"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s0"}"""
    def curated() = graft.streaming.EventStreams
      .incrementalFiles(spark, src, docSchema)
      .filter(graft.operators.CorpusOps.gateKeep(col("text"),
        graft.operators.CorpusOps.GateRules()))
      .withColumn("h", sha2(col("text"), 256))
      .dropDuplicates("h")

    // run 1: a gate-passer, a too-short reject, and an exact dup of the passer
    writeBatch(src, Seq(doc(1, passA), doc(2, "too short"), doc(3, passA)), "b1.json")
    EventStreams.runAvailableNow(curated(), sink, ckpt)
    assert(spark.read.parquet(sink).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L))

    // run 2: the dup arrives AGAIN plus a new passer — dedup state in the
    // checkpoint drops the old content across runs, admits the new doc
    writeBatch(src, Seq(doc(4, passA), doc(5, passC)), "b2.json")
    EventStreams.runAvailableNow(curated(), sink, ckpt)
    assert(spark.read.parquet(sink).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 5L))
  }

  test("heavy-hitter monitor over 3 micro-batches obeys the MG bound for the whole stream") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val src = Files.createTempDirectory("graft-hh-src").toString
    val ckpt = Files.createTempDirectory("graft-hh-ckpt").toString
    // skewed stream split across batches: token t<i> appears (20-i)^2
    // times overall, scattered so batch boundaries cut inside tokens'
    // runs (the regime where naive per-batch top-k loses tallies)
    val toks = new scala.util.Random(7).shuffle(
      (0 until 20).flatMap(i => Seq.fill((20 - i) * (20 - i))(s"t$i")).toVector)
    val parts = toks.grouped((toks.length + 2) / 3).toSeq
    def doc(id: Long, ts: Seq[String]) =
      s"""{"doc_id":$id,"text":"${ts.mkString(" ")}"}"""
    val k = 6
    val mon = new HeavyHitters.Monitor(k)
    parts.zipWithIndex.foreach { case (p, i) =>
      writeBatch(src, Seq(doc(i.toLong, p)), s"b$i.json")
      EventStreams.runAvailableNowForeachBatch(
        EventStreams.incrementalFiles(spark, src, docSchema), ckpt) { (batch, _) =>
        mon.observe(batch.select(
          explode(split(trim(col("text")), "\\s+")).as("token")))
      }
    }
    val got = mon.summary.toMap
    assert(got.size <= k)
    val exact = (0 until 20).map(i => s"t$i" -> ((20 - i) * (20 - i)).toLong).toMap
    val n = toks.length.toLong
    got.foreach { case (t, est) =>
      assert(est <= exact(t), s"overcount for $t")
      assert(exact(t) <= est + n / (k + 1) + 1, s"bound broken for $t")
    }
    // tokens heavier than N/(k+1) survive every batch boundary
    exact.filter(_._2 > n / (k + 1)).keys.foreach { t =>
      assert(got.contains(t), s"monitor lost heavy hitter $t across batches")
    }
  }

  test("CMS monitor over 3 micro-batches equals the one-shot sketch bit-for-bit") {
    import spark.implicits._
    // same skewed stream, cut mid-run across 3 batches
    val toks = new scala.util.Random(11).shuffle(
      (0 until 20).flatMap(i => Seq.fill((20 - i) * (20 - i))(s"t$i")).toVector)
    val parts = toks.grouped((toks.length + 2) / 3).toSeq
    assert(parts.length === 3)
    val mon = new HeavyHitters.CmsMonitor(4, 64)
    parts.foreach(p => mon.observe(p.toDF("token")))
    // exactly-associative merge: cross-batch grid == one-shot grid
    val oneShot = toks.toDF("token")
      .agg(expr("cms_sketch(token, 4, 64)")).collect().head.getSeq[Long](0)
    assert(mon.grid.toSeq === oneShot, "cross-batch CMS must equal the one-shot sketch")
    // point queries over-count only, and total mass is exact per row
    val exact = (0 until 20).map(i => s"t$i" -> ((20 - i) * (20 - i)).toLong).toMap
    exact.foreach { case (t, f) =>
      assert(mon.estimate(t) >= f, s"undercount for $t")
    }
    (0 until 4).foreach { j =>
      assert(mon.grid.slice(j * 64, (j + 1) * 64).sum === toks.length.toLong)
    }
  }

  test("HLL monitor over 3 micro-batches equals the one-shot sketch, replay-proof") {
    import spark.implicits._
    val toks = (0 until 3000).map(i => s"u$i")
    val parts = toks.grouped(1000).toSeq
    val mon = new HeavyHitters.HllMonitor
    parts.foreach(p => mon.observe(p.toDF("token")))
    // max-merge associativity: cross-batch registers == one-shot
    val oneShot = toks.toDF("token")
      .agg(expr("hll_sketch(token)")).collect().head.getSeq[Int](0)
    assert(mon.registers.toSeq === oneShot,
      "cross-batch HLL must equal the one-shot sketch")
    // idempotence: replaying a batch (at-least-once delivery) is a no-op
    mon.observe(parts(1).toDF("token"))
    assert(mon.registers.toSeq === oneShot,
      "replaying a batch must not change the registers")
    // the estimate lands inside the published envelope (6.5% std err, 4σ)
    assert(math.abs(mon.estimate / 3000.0 - 1.0) < 0.26, s"est=${mon.estimate}")
  }
}
