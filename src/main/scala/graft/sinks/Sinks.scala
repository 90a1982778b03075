package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Destination connectors (SURVEY.md K1-K7) on Spark primitives.
  *
  * K2 splits across three pieces: SchemaDDL composes dialect DDL,
  * DbWriter executes the reconcile → migrate → insert loop against a
  * live JDBC database (proven on embedded Derby in DbWriterSpec), and
  * the row shaping here is shared by every dialect.
  */
object Sinks {

  /** K2 row shaping: the reference's permanent columns around the data
    * columns; error rows carry status='ERROR' + message with data nulled
    * (database_utils.py:160-182, unstract_db.py:364-377). */
  def shapeForDb(results: DataFrame, createdBy: String,
      singleColumnMode: Boolean = false): DataFrame = {
    val dataCols = results.columns.filterNot(Seq("status", "error_message").contains)
    val base = results
      .withColumn("id", uuid())                      // F6
      .withColumn("created_by", lit(createdBy))
      .withColumn("created_at", current_timestamp()) // F7
      .withColumn("status",
        when(col("error_message").isNotNull, "ERROR").otherwise("SUCCESS"))
    if (singleColumnMode)
      base.select(col("id"), col("created_by"), col("created_at"),
        to_json(struct(lit("result").as("k"),
          to_json(struct(dataCols.map(col): _*)).as("v"))).as("metadata"),
        to_json(struct(dataCols.map(col): _*)).as("data"),
        col("status"), col("error_message"))
    else base
  }

  /** K1: filesystem sink — result rows as json under outputFolder,
    * partitioned by a routing column when given (D22 classify routing). */
  def writeFs(results: DataFrame, outputFolder: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = results.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .json(outputFolder)
  }

  /** K5: FileHistory upsert (MERGE semantics on a parquet state table):
    * new rows replace same-cache_key rows, others survive. Parquet has no
    * MERGE — on Delta this is a real MERGE INTO; here the table is
    * partitioned by `key_prefix = substr(cache_key, 1, 2)` (≤256 buckets,
    * sha256 keys spread uniformly) and an upsert reads + rewrites ONLY
    * the buckets its update keys land in. A 1-row upsert into a 100 TB
    * history touches ~1/256th of the table, not all of it.
    *
    * Every write (first write, flat-table migration, bucket merge) goes
    * through `writeBuckets`: each bucket it writes is written by one
    * task as one file, and the buckets are spread over every core. Scale
    * note: a history row is ~203 B on disk (perfbench's
    * `sinks.history_bytes_per_new_row`), so at 10⁹ files a bucket is
    * ≈0.8 GB, all of it written by its one task.
    *
    * Crash safety: merged buckets are staged, then promoted per bucket as
    * rename(current → __old), rename(staged → current), delete(__old) —
    * at every instant either the old or the new bucket exists on disk.
    * A crash mid-promote leaves `key_prefix=XX.__old` as the bucket's
    * only copy; every call begins by restoring such orphans, so the
    * merge below always sees the full table. */
  def upsertHistory(spark: SparkSession, historyPath: String,
      updates: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(historyPath)
    // resolve the FS from the path itself — fs.defaultFS may be a
    // different filesystem (e.g. history on s3a, default hdfs)
    val fs = dst.getFileSystem(conf)
    recoverOrphans(fs, dst, historyPath)
    // the "x" marker keeps partition-value type inference on STRING —
    // an all-numeric bucket set ("12", "47") would otherwise infer INT
    // and break later lookups of hex buckets like "ec"
    val keyed = updates.withColumn("key_prefix",
      concat(lit("x"), substring(col("cache_key"), 1, 2)))
    if (!fs.exists(dst)) {
      writeBuckets(keyed, SaveMode.ErrorIfExists, historyPath)
      return
    }
    val currentAll = spark.read.parquet(historyPath)
    val partitioned = currentAll.columns.contains("key_prefix")
    val staged = historyPath + "__staged"
    if (!partitioned) {
      // one-time migration of a flat legacy table: merge everything and
      // swap the whole directory (old copy set aside until promote lands)
      val merged = currentAll
        .join(updates.select("cache_key"), Seq("cache_key"), "left_anti")
        .unionByName(updates)
        .withColumn("key_prefix", concat(lit("x"), substring(col("cache_key"), 1, 2)))
      writeBuckets(merged, SaveMode.Overwrite, staged)
      val old = new org.apache.hadoop.fs.Path(historyPath + "__old")
      if (fs.exists(old)) fs.delete(old, true)
      if (!fs.rename(dst, old))
        throw new java.io.IOException(s"upsertHistory: cannot set aside $dst")
      if (!fs.rename(new org.apache.hadoop.fs.Path(staged), dst))
        // recoverOrphans restores the set-aside table on the next call
        throw new java.io.IOException(
          s"upsertHistory: migration promote failed; prior table preserved at $old")
      fs.delete(old, true)
      return
    }
    val prefixes = keyed.select("key_prefix").distinct()
      .collect().map(_.getString(0)) // bounded: ≤256 values
    val merged = currentAll
      .filter(col("key_prefix").isin(prefixes.toIndexedSeq: _*)) // partition pruning
      .join(updates.select("cache_key"), Seq("cache_key"), "left_anti")
      .unionByName(keyed)
    writeBuckets(merged, SaveMode.Overwrite, staged)
    prefixes.foreach { p =>
      val cur = new org.apache.hadoop.fs.Path(dst, s"key_prefix=$p")
      val stg = new org.apache.hadoop.fs.Path(staged, s"key_prefix=$p")
      val old = new org.apache.hadoop.fs.Path(dst, s"key_prefix=$p.__old")
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(cur) && !fs.rename(cur, old))
        throw new java.io.IOException(s"upsertHistory: cannot set aside $cur")
      if (!fs.rename(stg, cur))
        // leave __old in place: recoverOrphans restores it on the next call
        throw new java.io.IOException(
          s"upsertHistory: promote of $stg failed; prior copy preserved at $old")
      // delete the set-aside copy only once the new current is in place
      if (fs.exists(old)) fs.delete(old, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(staged), true)
  }

  /** Write a `key_prefix`-partitioned history table with each bucket's
    * rows in one task: without the shuffle, every input partition opens
    * its own writer per bucket and a bucket ends up as many small files.
    * The explicit count keeps AQE from coalescing the buckets into fewer
    * tasks. */
  private def writeBuckets(df: DataFrame, mode: SaveMode, path: String): Unit =
    df.repartition(math.min(256, df.sparkSession.sparkContext.defaultParallelism),
        col("key_prefix"))
      .write.mode(mode).partitionBy("key_prefix").parquet(path)

  /** Restore buckets orphaned by a crash mid-promote: a failure between
    * rename(cur → __old) and rename(staged → cur) leaves `__old` as the
    * bucket's only copy, invisible to the prefix-pruned merge (its
    * partition value reads as "XX.__old"). Rename it back before any
    * read; an `__old` whose `cur` also exists is a completed promote's
    * leftover and is deleted. The flat-table migration has the same
    * window with `<historyPath>__old` holding the whole table. */
  private def recoverOrphans(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, historyPath: String): Unit = {
    val flatOld = new org.apache.hadoop.fs.Path(historyPath + "__old")
    if (fs.exists(flatOld)) {
      if (!fs.exists(dst)) fs.rename(flatOld, dst)
      else fs.delete(flatOld, true)
    }
    if (!fs.exists(dst)) return
    fs.listStatus(dst).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("key_prefix=") && name.endsWith(".__old")) {
        val cur = new org.apache.hadoop.fs.Path(dst, name.stripSuffix(".__old"))
        if (!fs.exists(cur)) fs.rename(st.getPath, cur)
        else fs.delete(st.getPath, true)
      }
    }
  }

  /** A1/K7: usage rollup — group per-call usage rows by run. */
  def usageRollup(usage: DataFrame): DataFrame =
    usage.groupBy(col("run_id")).agg(
      sum("embedding_tokens").as("embedding_tokens"),
      sum("prompt_tokens").as("prompt_tokens"),
      sum("completion_tokens").as("completion_tokens"),
      sum("total_tokens").as("total_tokens"),
      round(sum("cost_in_dollars"), 6).as("cost_in_dollars"))

  /** K3: API result sink — bounded collect of per-file results
    * (destination.py:516-557); caller enforces the API batch cap. */
  def collectApiResults(results: DataFrame, maxRows: Int = 1000): Seq[String] =
    results.limit(maxRows).toJSON.collect().toSeq

  /** K4/T5: manual-review queue sink — append result packets (base64
    * file + result JSON, destination.py:853-1115) to a queue directory
    * with an enqueue timestamp; consumers read with a TTL filter.
    * This is the BULK path (one distributed write for a whole batch);
    * the message-at-a-time Redis-list contract lives in
    * [[graft.streaming.QueueConnector]] with Memory/Jdbc/Directory
    * backends, contract-tested in QueueContractSpec. */
  def enqueueReview(results: DataFrame, queueDir: String,
      ttlSeconds: Long = 3600): Unit =
    results
      // epoch seconds, not a timestamp: JSON round-trips timestamps as
      // ISO strings that the consumer would have to re-parse
      .withColumn("enqueued_epoch", unix_timestamp(current_timestamp()))
      .withColumn("ttl_seconds", lit(ttlSeconds))
      .write.mode(SaveMode.Append).json(queueDir)

  /** K4 consume side: only packets still within their TTL. */
  def dequeueReview(spark: SparkSession, queueDir: String): DataFrame =
    spark.read.json(queueDir)
      .filter(unix_timestamp(current_timestamp()) <
        col("enqueued_epoch") + col("ttl_seconds"))
}
