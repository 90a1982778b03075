package graft

import org.apache.spark.sql.DataFrame

/** The one materialization seam: every barrier in the operator and
  * pipeline tiers (multi-pass tables, iterative rounds, the workflow's
  * `extracted` frame) calls [[materialize]], and one key,
  * [[Key]], decides for all of them. Unset: `localCheckpoint` — eager
  * and fast, but pinned to executors, so a lost executor kills the job.
  * Set to a parquet-capable root: write-then-read a staged table under
  * it, so any lost task recomputes from the staged files — the
  * configuration a 100 TB run uses (SCALE.md). Every tier stages under
  * the same root, each write in its own [[stagePath]] directory.
  *
  * Cleanup: staged directories are tracked, and the frames returned
  * read from them, so none is deleted per call (callers such as
  * Curation.run hand those frames on); call [[cleanup]] once a run's
  * outputs are consumed or persisted, or purge the root between runs.
  */
object Staging {

  /** The staging root; unset means `localCheckpoint`. */
  val Key = "spark.graft.stagingDir"

  private val staged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `df`, computed once: written to a fresh [[stagePath]] directory
    * and read back when [[Key]] is set, else `df.localCheckpoint()`.
    * Eager either way. */
  def materialize(df: DataFrame, tag: String): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(Key) match {
      case Some(root) =>
        val path = stagePath(root, tag)
        df.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      case None => df.localCheckpoint()
    }
  }

  /** A fresh, tracked directory `<root>/<tag>_<id>` under the staging
    * root: the one naming rule for everything written there, so runs
    * and call sites sharing a root never write over each other. */
  private[graft] def stagePath(root: String, tag: String): String = {
    val path = s"$root/${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
    staged.add(path)
    path
  }

  /** Kept only for the benchmark's traced copy of `Workflow.run`
    * (perfbench), which still passes a per-tier key: the key is
    * ignored. That copy still stages a `fresh` frame, which
    * `Workflow.run` no longer does. */
  @deprecated("the key is ignored; call materialize(df, tag)", "0.1.0")
  def materialize(df: DataFrame, tag: String, confKey: String): DataFrame =
    materialize(df, tag)

  /** Paths staged (durable mode) by this process and not yet cleaned. */
  def stagedPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    staged.asScala.toSet
  }

  /** Delete every tracked staged directory. Call AFTER the run's
    * outputs are consumed or persisted — any DataFrame still reading a
    * staged path becomes invalid. Paths that fail to delete stay
    * tracked for a later attempt. */
  def cleanup(spark: org.apache.spark.sql.SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    staged.asScala.toSeq.foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      if (scala.util.Try(path.getFileSystem(conf).delete(path, true)).isSuccess)
        staged.remove(p)
    }
  }
}
