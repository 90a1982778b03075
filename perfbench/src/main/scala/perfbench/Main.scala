package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{QueryDef, SparkEntry, Staging}
import graft.pipeline.{Extraction, PromptSpec, Workflow}
import graft.sinks.Sinks
import graft.sources.FileScan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The JVM half of the benchmark. It drives the engine only through its
  * public entry points, writes the raw record (timings, spans, outputs
  * to check) to `--record`, and leaves every metric and check to
  * `perfbench/run.py`. Untimed set-up (session and warm-up) comes first;
  * then timed passes repeat until `--seconds` have gone by, except for a
  * workload that times one cold pass.
  *
  *   etl_cold      Workflow.run over the fixture folder, empty history
  *   headline      one SparkEntry.headlines query per module, one cold pass
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      fixtures: String, work: String, record: String, sf: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seconds").toDouble, need("trace") == "1",
      need("fixtures"), need("work"), need("record"), need("sf"), need("cores").toInt)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The four prompts of etl_cold: a number, a boolean, a
    * text answer and a question the mock cannot answer ("NA" → null). */
  val basePrompts: Seq[PromptSpec] = Seq(
    PromptSpec("the_count", "count of word 'the'", "number"),
    PromptSpec("mentions_spark", "does it mention 'spark'", "boolean"),
    PromptSpec("first_word", "first word", "text"),
    PromptSpec("invoice_total", "what is the invoice total", "text"))

  private val StagingKey = "spark.graft.workflow.stagingDir"

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Json.V)]
    val w: Workload = a.workload match {
      case "etl_cold" => new Etl(a)
      case "headline" => new Headline(a)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: JVM start to the end of the workload's warm-up
    val spark = session(a)
    w.warmUp(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(spark, a.trace)
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < w.minPasses || (!w.onePass && (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      w.timedPass(spark, tracer, pass)
      pass += 1
    }
    out += "workload" -> Json.Str(a.workload)
    out += "cores" -> Json.Num(a.cores)
    out += "setup_s" -> Json.Num(setupS)
    out ++= w.record()
    out += "spans" -> Json.Arr(tracer.spans.toSeq)
    out += "trace_overhead_s" -> Json.Num(tracer.overheadNanos / 1e9)
    spark.stop()
    Files.writeString(Paths.get(a.record), Json.Obj(out.toSeq).render + "\n")
  }

  trait Workload {
    /** True when a run times exactly one pass, whatever `--seconds` says. */
    def onePass: Boolean = false
    /** Passes a run makes even when `--seconds` has gone by. */
    def minPasses: Int = 1
    def warmUp(spark: SparkSession): Unit
    def timedPass(spark: SparkSession, tr: Tracer, pass: Int): Unit
    def record(): Seq[(String, Json.V)]
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** Files under `dir` with their sizes, keyed by path relative to it. */
  private def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toMap

  /** etl_cold: `Workflow.run` over every document, history empty at the
    * start of each pass. The warm-up is the first two such passes,
    * untimed: a pass still ran ~25% slower than a warm one after a single
    * warm-up pass. Every pass writes its rows to its own output folder,
    * which run.py checks against answers it computes from the fixture
    * text. */
  final class Etl(a: Args) extends Workload {
    private val work = Paths.get(a.work)
    private val history = work.resolve("history")
    private val WarmUpPasses = 2
    private var meters: LlmMeters = _
    private val passes = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]

    private def spec(folder: String, tag: String) = Workflow.WorkflowSpec(
      // the default cap of 100 files would silently drop the rest
      scan = FileScan.ScanConfig(root = Paths.get(a.fixtures, folder).toString, maxFiles = 1000000),
      prompts = basePrompts,
      historyPath = history.toString,
      outputFolder = work.resolve("out").resolve(tag).toString)

    // at least three passes, so that one pass slowed by the host does not
    // set the median; a traced run alternates untraced and traced passes,
    // so it can report what tracing adds to a pass's wall time
    override val minPasses = 3

    def warmUp(spark: SparkSession): Unit = {
      meters = new LlmMeters(spark.sparkContext)
      for (i <- 1 to WarmUpPasses) runPass(spark, None, spec("docs", s"warmup_$i"), -i)
    }

    def timedPass(spark: SparkSession, tr: Tracer, pass: Int): Unit =
      runPass(spark, Some(tr), spec("docs", s"pass_$pass"), pass)

    private def runPass(spark: SparkSession, tr: Option[Tracer],
        s: Workflow.WorkflowSpec, pass: Int): Unit = {
      deleteTree(history)
      val client = meters.client()
      val before = meters.snapshot()
      val traceThis = tr.exists(_.on) && pass % 2 == 1
      val t0 = System.nanoTime()
      val summary =
        if (traceThis) traced(spark, tr.get, s, client, pass)
        else Workflow.run(spark, s, client)
      val wall = (System.nanoTime() - t0) / 1e9
      val after = meters.snapshot()
      passes += Json.Obj(Seq(
        "pass" -> Json.Num(pass), "timed" -> Json.Bool(tr.isDefined),
        "traced" -> Json.Bool(traceThis),
        "wall_s" -> Json.Num(wall), "listed" -> Json.Num(summary.listed.toDouble),
        "after_dedup" -> Json.Num(summary.afterDedup.toDouble),
        "extracted" -> Json.Num(summary.extracted.toDouble),
        "failed" -> Json.Num(summary.failed.toDouble),
        "out_dir" -> Json.Str(s.outputFolder)) ++
        after.toSeq.sortBy(_._1).map { case (k, v) => s"llm_$k" -> Json.Num((v - before(k)).toDouble) })
    }

    /** The bench's copy of `Workflow.run`'s steps, in its order, one span
      * per layer call; it must be kept in step with `Workflow.run`, or the
      * per-layer figures stop describing the program. Each layer's output
      * is forced inside its own span, so the work a lazy DataFrame defers
      * lands on the layer that defined it; the extracted set's
      * materialization runs the completions, so it is `pipeline.extract`'s.
      * The forcing is extra work `Workflow.run` does not do: the scan and
      * the history read are checkpointed on their own, where
      * `Workflow.run` fuses them into the job that stages the fresh set,
      * and the run summary is counted after the pass. That extra work
      * shows in `trace.wall_delta_s`, not in `trace.overhead_s`. */
    private def traced(spark: SparkSession, tr: Tracer, s: Workflow.WorkflowSpec,
        client: () => graft.pipeline.LLMClient, pass: Int): Workflow.RunSummary = {
      val (files, fresh, extracted) = tr.span("etl.pass", pass) {
        val files = tr.span("sources.scan", pass) {
          val f = FileScan.scan(spark, s.scan)
          tr.count("out_partitions", f.rdd.getNumPartitions)
          f.localCheckpoint()
        }
        val historyDf = tr.span("sources.history_read", pass) {
          val h = try spark.read.parquet(s.historyPath) catch {
            case NonFatal(_) =>
              import spark.implicits._
              Seq.empty[(String, String, String, String)]
                .toDF("cache_key", "file_path", "status", "result")
          }
          tr.count("files_read", h.inputFiles.length)
          h.localCheckpoint()
        }
        val fresh = tr.span("staging.materialize", pass) {
          Staging.materialize(
            FileScan.dedupAgainstHistory(files, historyDf)
              .withColumn("text", col("content").cast("string")),
            "fresh", StagingKey)
        }
        val extracted = tr.span("pipeline.extract", pass) {
          Staging.materialize(
            Extraction.extract(fresh, "text", s.prompts, client)
              .withColumn("error_message", lit(null).cast("string"))
              .drop("content", "text"),
            "extracted", StagingKey)
        }
        tr.span("sinks.fs_write", pass) {
          Sinks.writeFs(Sinks.shapeForDb(extracted, createdBy = s.workflowId)
            .drop("error_message"), s.outputFolder)
        }
        tr.span("sinks.history_upsert", pass) {
          val before = listing(history)
          Sinks.upsertHistory(spark, s.historyPath, extracted.select(
            col("file_hash").as("cache_key"),
            col("file_path"),
            when(col("error_message").isNotNull, "ERROR").otherwise("COMPLETED").as("status"),
            to_json(struct(s.prompts.map(p => col(p.name)): _*)).as("result")))
          val written = listing(history).filter { case (k, v) => !before.get(k).contains(v) }
            .filter(_._1.endsWith(".parquet"))
          tr.count("files_written", written.size)
          tr.count("bytes_written", written.values.sum.toDouble)
        }
        (files, fresh, extracted)
      }
      val n = extracted.count()
      Workflow.RunSummary(files.count(), fresh.count(), n,
        extracted.filter(col("error_message").isNotNull).count())
    }

    def record(): Seq[(String, Json.V)] = Seq("etl_passes" -> Json.Arr(passes.toSeq))
  }

  /** headline: the first `SparkEntry.headlines` query of each operator
    * module, in registry order, one cold pass in a fresh JVM, as a
    * scheduled batch job meets them. A cold pass over all 39 headliners
    * does not fit the time every run shares; one per module keeps each
    * module that holds a headliner measured. Each query is forced by
    * computing its fingerprint (row count and an order-insensitive hash
    * of every row), so the timed execution is the checked one. Set-up
    * opens the session and reads every table's footer, as `graft.Bench`
    * does before timing. */
  final class Headline(a: Args) extends Workload {
    // a query's module is the object whose code defines its plan function
    private val queries: Seq[QueryDef] =
      SparkEntry.headlines.distinctBy(_.fn.getClass.getName.takeWhile(_ != '$'))
    private val fingerprints = scala.collection.mutable.LinkedHashMap.empty[String, Json.V]
    private val passes = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]

    override def onePass: Boolean = true

    private def hashable(name: String, t: DataType) = {
      val c = col("`" + name.replace("`", "``") + "`")
      if (hasMap(t)) to_json(c) else c
    }

    // xxhash64 rejects maps anywhere in a column's type
    private def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }

    private def fingerprint(df: DataFrame): Json.V = {
      val h = xxhash64(df.schema.fields.toIndexedSeq.map(f => hashable(f.name, f.dataType)): _*)
      val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
        .head()
      Json.Obj(Seq("rows" -> Json.Num(r.getLong(0).toDouble),
        "hash" -> Json.Str(Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))))
    }

    def warmUp(spark: SparkSession): Unit =
      graft.Tables.names.foreach(n => graft.Tables.load(spark, a.sf, n).schema)

    def timedPass(spark: SparkSession, tr: Tracer, pass: Int): Unit = {
      val t0 = System.nanoTime()
      val times = tr.span("headline.pass", pass) {
        queries.map { q =>
          val q0 = System.nanoTime()
          val ok = try {
            fingerprints(q.name) = tr.span(s"operators.${q.name}", pass)(fingerprint(q.fn(spark, a.sf)))
            true
          } catch { case NonFatal(e) => System.err.println(s"[perfbench] ${q.name}: $e"); false }
          q.name -> Json.Obj(Seq("wall_s" -> Json.Num((System.nanoTime() - q0) / 1e9),
            "ok" -> Json.Bool(ok)))
        }
      }
      passes += Json.Obj(Seq("wall_s" -> Json.Num((System.nanoTime() - t0) / 1e9),
        "queries" -> Json.Obj(times)))
    }

    def record(): Seq[(String, Json.V)] = Seq(
      "fingerprints" -> Json.Obj(fingerprints.toSeq),
      "headline_passes" -> Json.Arr(passes.toSeq))
  }
}
