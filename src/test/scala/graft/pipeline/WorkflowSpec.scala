package graft.pipeline

import graft.SparkSpec
import graft.sinks.Sinks
import graft.sources.FileScan
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** E2E pipeline fixture (FIXTURES.md §7, mirroring the reference's
  * tests/e2e/etl flow with a canned LLM). */
class WorkflowSpec extends SparkSpec {

  test("ETL run end-to-end: scan → dedup → extract → sink + history") {
    val srcDir = Files.createTempDirectory("graft-wf-src")
    Files.write(srcDir.resolve("probe.txt"),
      "ETL probe. This document is about pipeline widgets and invoices.".getBytes)
    Files.write(srcDir.resolve("second.txt"),
      "batch batch spark pipeline".getBytes)
    val outDir = Files.createTempDirectory("graft-wf-out").toString + "/results"
    val histPath = Files.createTempDirectory("graft-wf-hist").toString + "/history"

    val queueRoot = Files.createTempDirectory("graft-wf-queue").toString
    val cacheNs = s"wf-${java.util.UUID.randomUUID()}"
    val cache = new graft.sinks.ResultCache(
      () => new graft.streaming.MemoryQueue(cacheNs), ttlSeconds = 600)
    val spec = Workflow.WorkflowSpec(
      scan = FileScan.ScanConfig(srcDir.toString, glob = "*.txt"),
      prompts = Seq(
        PromptSpec("n_batch", "count of word 'batch'", "number"),
        PromptSpec("mentions_pipeline", "does it mention 'pipeline'", "boolean")),
      historyPath = histPath,
      outputFolder = outDir,
      reviewQueue = Some((() => new graft.streaming.DirectoryQueue(queueRoot), "review:wf-1")),
      resultCache = Some(cache))

    val run1 = Workflow.run(spark, spec, () => new MockLLM)
    assert(run1.listed == 2 && run1.afterDedup == 2 && run1.extracted == 2 && run1.failed == 0)

    // the optional destination hops fired: review packets + pollable cache
    assert(new graft.streaming.DirectoryQueue(queueRoot).llen("review:wf-1") == 2)
    assert(cache.get("wf-1", "ex-1").size == 2)

    // destination rows landed with the mock answers
    val out = spark.read.json(outDir)
    assert(out.count() == 2)
    val byFile = out.collect().map(r =>
      r.getAs[String]("file_name") -> r.getAs[Double]("n_batch")).toMap
    assert(byFile("second.txt") == 2.0)
    assert(byFile("probe.txt") == 0.0)
    assert(out.filter(org.apache.spark.sql.functions.col("status") === "SUCCESS").count() == 2)

    // second run: everything already in history → exactly-once per file
    val run2 = Workflow.run(spark, spec, () => new MockLLM)
    assert(run2.listed == 2 && run2.afterDedup == 0 && run2.extracted == 0)

    // third run with one new file → only the new file processes
    Files.write(srcDir.resolve("third.txt"), "spark spark batch".getBytes)
    val run3 = Workflow.run(spark, spec, () => new MockLLM)
    assert(run3.listed == 3 && run3.afterDedup == 1 && run3.extracted == 1)
    assert(spark.read.parquet(histPath).count() == 3)
  }

  /** A workflow over a folder of its own with EVERY optional destination
    * hop active: fs sink + review queue + result cache + history upsert +
    * the two summary counts — with the old per-action re-execution such a
    * run would bill the LLM up to 6×. Without `hops`, the review queue and
    * result cache are off. Runs again over the same folder and history as
    * often as asked, metering completions in `calls`. */
  private final class CountedFlow(tag: String, hops: Boolean = true) {
    private val srcDir = Files.createTempDirectory(s"graft-$tag-src")
    val histPath: String = Files.createTempDirectory(s"graft-$tag-hist").toString + "/history"
    val calls = spark.sparkContext.longAccumulator(s"llm-calls-$tag")
    private val spec = {
      // locals, so the queue factories ship to executors without the flow
      val queueRoot = Files.createTempDirectory(s"graft-$tag-queue").toString
      val cacheNs = s"$tag-${java.util.UUID.randomUUID()}"
      Workflow.WorkflowSpec(
        scan = FileScan.ScanConfig(srcDir.toString, glob = "*.txt"),
        prompts = Seq(
          PromptSpec("n_batch", "count of word 'batch'", "number"),
          PromptSpec("mentions_pipeline", "does it mention 'pipeline'", "boolean")),
        historyPath = histPath,
        outputFolder = Files.createTempDirectory(s"graft-$tag-out").toString + "/results",
        reviewQueue = Some((() => new graft.streaming.DirectoryQueue(queueRoot), "review:wf-1"))
          .filter(_ => hops),
        resultCache = Some(new graft.sinks.ResultCache(
          () => new graft.streaming.MemoryQueue(cacheNs), ttlSeconds = 600)).filter(_ => hops))
    }

    def write(name: String, text: String): Unit =
      Files.write(srcDir.resolve(name), text.getBytes)

    /** One run: its summary and the completions it billed. */
    def run(): (Workflow.RunSummary, Long) = {
      val acc = calls // a local: the client factory ships to executors, the flow cannot
      val before = acc.value.longValue
      val summary = Workflow.run(spark, spec, () => new CountingLLM(acc))
      (summary, acc.value.longValue - before)
    }
  }

  /** One run over one file per text; the summary and completions billed. */
  private def runCounted(tag: String, texts: Seq[String]): (Workflow.RunSummary, Long) = {
    val flow = new CountedFlow(tag)
    texts.zipWithIndex.foreach { case (t, i) => flow.write(f"f$i%03d.txt", t) }
    flow.run()
  }

  test("extraction is billed once per (row, prompt) — never once per sink action") {
    val (run, calls) = runCounted("wf1x", Seq("batch pipeline", "batch batch"))
    assert(run.listed == 2 && run.extracted == 2 && run.failed == 0)
    assert(calls === 4L, // 2 files × 2 prompts, exactly once each
      s"LLM billed $calls completions for 4 (row, prompt) pairs")
    // more files than cores: the scan spreads them over every core, so
    // extraction and every sink run in several tasks
    val (run40, calls40) = runCounted("wf40x",
      (1 to 40).map(i => s"batch $i pipeline " + "batch " * (i % 3)))
    assert(run40 == Workflow.RunSummary(40, 40, 40, 0))
    assert(calls40 === 80L, // 40 files × 2 prompts
      s"LLM billed $calls40 completions for 80 (row, prompt) pairs")
  }

  test("the same content at several paths is billed once per path, then never again") {
    val flow = new CountedFlow("wfcopies")
    Seq("a", "b", "c").foreach(n => flow.write(s"$n.txt", "batch pipeline copy"))
    val (run1, calls1) = flow.run()
    assert(run1 == Workflow.RunSummary(3, 3, 3, 0) && calls1 === 6L)
    // a fourth copy: only it is new
    flow.write("d.txt", "batch pipeline copy")
    val (run2, calls2) = flow.run()
    assert(run2.afterDedup == 1 && calls2 === 2L)
    // the fourth copy's history row did not displace the other three
    val (run3, calls3) = flow.run()
    assert(run3 == Workflow.RunSummary(4, 0, 0, 0))
    assert(calls3 === 0L, s"third run billed $calls3 completions for files already done")
  }

  test("an unreadable history fails the run before any completion is billed") {
    val flow = new CountedFlow("wfjunk")
    flow.write("a.txt", "batch pipeline")
    flow.write("b.txt", "batch batch")
    Files.createDirectories(java.nio.file.Paths.get(flow.histPath))
    Files.write(java.nio.file.Paths.get(flow.histPath, "part-0.parquet"), "not parquet".getBytes)
    intercept[Exception](flow.run())
    assert(flow.calls.value === 0L,
      s"LLM billed ${flow.calls.value} completions before the history read failed")
  }

  test("a history that fails only when its rows are read fails the run before any completion is billed") {
    import spark.implicits._
    val flow = new CountedFlow("wfmixed")
    flow.write("a.txt", "batch pipeline")
    flow.write("b.txt", "batch batch")
    // either file alone infers a valid schema; read under the other's
    // schema, the first fails on its cache_key column
    Seq(("k1", "/x/a.txt", "COMPLETED", "{}")).toDF("cache_key", "file_path", "status", "result")
      .coalesce(1).write.parquet(flow.histPath)
    Seq((7, "/x/b.txt", "COMPLETED", "{}")).toDF("cache_key", "file_path", "status", "result")
      .coalesce(1).write.mode("append").parquet(flow.histPath)
    assert(Sinks.readHistory(spark, flow.histPath).columns.length == 4)
    intercept[Exception](flow.run())
    assert(flow.calls.value === 0L,
      s"LLM billed ${flow.calls.value} completions before the history read failed")
  }

  /** The Spark jobs `body` starts. A sentinel job after it marks the end:
    * listener events arrive in order, so once the sentinel's start is
    * seen, every job `body` started has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p => sentinel == p.getProperty("spark.job.description")))
          done.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a run into an empty history is four Spark jobs; a re-run of done files is five") {
    val flow = new CountedFlow("wfjobs", hops = false)
    (1 to 40).foreach(i => flow.write(f"f$i%03d.txt", s"batch $i pipeline"))
    // extraction (the one pass over the files), the fs sink, the
    // history's bucket count and its one-file write
    var run1: (Workflow.RunSummary, Long) = null
    val first = jobsOf { run1 = flow.run() }
    assert(first == 4, s"first run: $first jobs")
    assert(run1 == ((Workflow.RunSummary(40, 40, 40, 0), 80L)))
    // the history's schema, its broadcast side, extraction, the fs sink
    // and the bucket count
    var run2: (Workflow.RunSummary, Long) = null
    val rerun = jobsOf { run2 = flow.run() }
    assert(run2 == ((Workflow.RunSummary(40, 0, 0, 0), 0L)))
    assert(rerun == 5, s"re-run: $rerun jobs")
  }

  test("a history set aside by a crashed re-layout still counts: done files are not billed again") {
    val flow = new CountedFlow("wfsetaside")
    flow.write("a.txt", "batch pipeline")
    flow.write("b.txt", "batch batch")
    val (run1, calls1) = flow.run()
    assert(run1 == Workflow.RunSummary(2, 2, 2, 0) && calls1 === 4L)
    // the re-layout's crash window: the table renamed to __old, its
    // staged copy not yet promoted
    Files.move(java.nio.file.Paths.get(flow.histPath),
      java.nio.file.Paths.get(flow.histPath + "__old"))
    val (run2, calls2) = flow.run()
    assert(run2 == Workflow.RunSummary(2, 0, 0, 0))
    assert(calls2 === 0L, s"billed $calls2 completions for files the set-aside history holds")
    assert(Files.exists(java.nio.file.Paths.get(flow.histPath)))
  }

  test("workflow staging dir: extraction materializes durably, same results") {
    val srcDir = Files.createTempDirectory("graft-wfstage-src")
    Files.write(srcDir.resolve("a.txt"), "batch pipeline".getBytes)
    val outDir = Files.createTempDirectory("graft-wfstage-out").toString + "/results"
    val histPath = Files.createTempDirectory("graft-wfstage-hist").toString + "/history"
    val staging = Files.createTempDirectory("graft-wfstage-stg").toString
    spark.conf.set(graft.Staging.Key, staging)
    try {
      val spec = Workflow.WorkflowSpec(
        scan = FileScan.ScanConfig(srcDir.toString, glob = "*.txt"),
        prompts = Seq(PromptSpec("n_batch", "count of word 'batch'", "number")),
        historyPath = histPath,
        outputFolder = outDir)
      val calls = spark.sparkContext.longAccumulator("llm-calls-staged")
      val run = Workflow.run(spark, spec, () => new CountingLLM(calls))
      assert(run.listed == 1 && run.extracted == 1 && calls.value === 1L)
      val staged = new java.io.File(staging).listFiles()
      assert(staged.exists(_.getName.startsWith("extracted_")),
        "extraction did not stage to the configured dir")
      // the source bytes are not staged: only the extraction's result is
      assert(!staged.exists(_.getName.startsWith("fresh_")), staged.map(_.getName).toSeq)
      val out = spark.read.json(outDir)
      assert(out.collect().head.getAs[Double]("n_batch") == 1.0)
    } finally spark.conf.unset(graft.Staging.Key)
  }
}

/** MockLLM that meters completions through an accumulator — the test
  * double for the reference's billed LLM adapter. */
class CountingLLM(acc: org.apache.spark.util.LongAccumulator) extends LLMClient {
  private val inner = new MockLLM
  override def complete(prompt: String): String = {
    acc.add(1); inner.complete(prompt)
  }
}
