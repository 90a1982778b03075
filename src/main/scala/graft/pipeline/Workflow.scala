package graft.pipeline

import graft.Staging
import graft.sources.FileScan
import graft.sinks.Sinks
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Workflow composition (SURVEY.md §3.1): the reference's
  * source → dedup → tool-pipeline → destination run as ONE Spark job —
  * the Celery fan-out, chord barrier and batch bookkeeping collapse into
  * Spark's scheduler (§4 table).
  *
  * scan (metadata listing, then each kept file read once) → history
  * anti-join → extraction columns → destination write + history upsert
  * + usage rollup.
  */
object Workflow {

  final case class RunSummary(
      listed: Long, afterDedup: Long, extracted: Long, failed: Long)

  /** `reviewQueue` (connector factory + queue name) routes a copy of
    * every destination row into the HITL review queue (K4); a
    * `resultCache` (K6) receives per-file results under
    * (workflowId, executionId) for API polling — both optional hops of
    * the reference's destination stage (destination.py:516-557,853-1115). */
  final case class WorkflowSpec(
      scan: FileScan.ScanConfig,
      prompts: Seq[PromptSpec],
      historyPath: String,
      outputFolder: String,
      workflowId: String = "wf-1",
      executionId: String = "ex-1",
      reviewQueue: Option[(() => graft.streaming.QueueConnector, String)] = None,
      reviewTtlSeconds: Long = 3600,
      resultCache: Option[graft.sinks.ResultCache] = None)

  /** Execute a batch run end-to-end. Returns the summary the reference's
    * chord callback would assemble (workers/file_processing/tasks.py:1023-1090).
    *
    * ONE job reads the source files and calls the LLM: the scan (numbered
    * on the driver, each kept file read once in its slice) → anti-join
    * against the history table → extraction, materialized ONCE as
    * `extracted`. The listing and post-dedup counts are [[Observation]]s
    * on that same pass. The fs sink, review queue, result cache and
    * history upsert all read the materialized result, so each LLM
    * completion is billed once per (row, prompt), never once per
    * downstream action (SURVEY §7.4's double-billing hazard; at 100 TB
    * with a metered LLM a per-action re-run is a 4× cost multiplier).
    *
    * A history that exists but cannot be read fails the run before any
    * completion is billed: `readHistory` infers its schema eagerly, and
    * the anti-join's history side is an exchange (broadcast or shuffle)
    * that completes before the stage that calls the LLM starts. */
  def run(spark: SparkSession, spec: WorkflowSpec,
      client: () => LLMClient): RunSummary = {
    val files = FileScan.scan(spark, spec.scan)

    val history = Sinks.readHistory(spark, spec.historyPath)

    val obsScan = Observation()
    val obsFresh = Observation()
    val fresh = FileScan.dedupAgainstHistory(
        files.observe(obsScan, count(lit(1)).as("listed")), history)
      .withColumn("text", col("content").cast("string"))
      .observe(obsFresh, count(lit(1)).as("fresh"))

    val obsExtract = Observation()
    val extracted = Staging.materialize(
      Extraction.extract(fresh, "text", spec.prompts, client)
        .withColumn("error_message", lit(null).cast("string"))
        // content/text never outlive extraction: staging them would
        // rewrite every source byte
        .drop("content", "text")
        .observe(obsExtract,
          count(lit(1)).as("n_out"),
          count(when(col("error_message").isNotNull, true)).as("n_err")),
      "extracted")

    val shaped = Sinks.shapeForDb(extracted, createdBy = spec.workflowId)
    Sinks.writeFs(shaped.drop("error_message"), spec.outputFolder)

    // optional destination hops: HITL review queue + API result cache
    val keyed = shaped
      .withColumn("workflow_id", lit(spec.workflowId))
      .withColumn("execution_id", lit(spec.executionId))
    spec.reviewQueue.foreach { case (mk, queueName) =>
      graft.streaming.Queues.enqueueDataFrame(
        keyed.drop("error_message"), queueName, mk, Some(spec.reviewTtlSeconds))
    }
    spec.resultCache.foreach(_.write(keyed.drop("error_message")))

    val newHistory = extracted.select(
      col("file_hash").as("cache_key"),
      col("file_path"),
      when(col("error_message").isNotNull, "ERROR").otherwise("COMPLETED").as("status"),
      to_json(struct(spec.prompts.map(p => col(p.name)): _*)).as("result"))
    Sinks.upsertHistory(spark, spec.historyPath, newHistory)

    RunSummary(
      obsScan.get("listed").asInstanceOf[Long],
      obsFresh.get("fresh").asInstanceOf[Long],
      obsExtract.get("n_out").asInstanceOf[Long],
      obsExtract.get("n_err").asInstanceOf[Long])
  }
}
