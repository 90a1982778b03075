package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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

  /** The FileHistory table's columns (SURVEY.md K5). */
  private val HistorySchema: StructType = StructType(
    Seq("cache_key", "file_path", "status", "result").map(StructField(_, StringType)))

  /** The FileHistory table at `historyPath`, or an empty one when the
    * path does not exist. Any other read error propagates: an unreadable
    * history must stop a run before extraction bills a completion, not
    * read as "nothing processed yet". A table a crashed re-layout left
    * set aside as `<historyPath>__old` is put back first, for the same
    * reason. */
  def readHistory(spark: SparkSession, historyPath: String): DataFrame = {
    val p = new Path(historyPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreSetAside(fs, p)
    if (fs.exists(p)) spark.read.parquet(historyPath)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), HistorySchema)
  }

  /** Rows per history bucket before the table splits 16 ways further.
    * A bucket is one file, and a merge rewrites each bucket it touches
    * whole, so the value trades the fixed cost of a file against the
    * rows a small merge rewrites. Measured on 4 vCPUs (local filesystem
    * without native Hadoop, rows of ~81 B on disk): 5,000 rows take
    * 2.1–3.2 s as 256 files and 0.21–0.24 s as one, ~9 ms a file; one
    * task writes 2^18 rows as one file in 0.87–0.97 s and 2^20 rows in
    * 3.1–3.7 s. A 1-row upsert into a 2^18-row table takes 1.40–1.50 s
    * at one bucket and 1.24–1.30 s at 16, so up to 2^18 rows a bucket's
    * rewrite adds ~0.2 s to the upsert's fixed cost of jobs; at 2^20 rows
    * the rewrite alone would be ~3 s per upsert. Against a fixed 256
    * buckets (medians of 10 runs each): a 10-row upsert into 2^18 rows
    * took 2.14 s as 256 buckets and 1.18 s as one, a 100-row one 2.90 s
    * and 1.68 s; into 5,000 rows 2.23 s and 0.83 s. */
  private[sinks] val RowsPerBucket: Long = 1L << 18

  /** Widest bucket name: two hex characters of `cache_key`, 256 buckets. */
  private val MaxWidth = 2

  /** Characters of `cache_key` in a table's bucket name: the smallest `w`
    * of 0, 1, 2 with `rows / 16^w ≤ RowsPerBucket`, capped at 2 so the
    * bucket set stays ≤256 whatever the table's size. */
  private[sinks] def bucketWidth(rows: Long): Int =
    (0 until MaxWidth).find(w => rows <= (RowsPerBucket << (4 * w))).getOrElse(MaxWidth)

  /** The width an upsert writes at. A new (or flat) table takes
    * `bucketWidth` of its rows plus the update's. A bucketed table widens
    * when that sum overflows its width, and narrows only when twice its
    * rows fit a narrower one: the sum counts an update row that replaces
    * a row as new, so a table near a threshold would otherwise flip width,
    * and re-lay itself out whole, on successive upserts. */
  private[sinks] def upsertWidth(tableWidth: Option[Int], tableRows: Long,
      updateRows: Long): Int = {
    val fit = bucketWidth(tableRows + updateRows)
    tableWidth match {
      case Some(w) if fit <= w => math.min(w, math.max(fit, bucketWidth(2 * tableRows)))
      case _ => fit
    }
  }

  // the "x" marker keeps partition-value type inference on STRING — an
  // all-numeric bucket set ("12", "47") would otherwise infer INT and
  // break later lookups of hex buckets like "ec"
  private val BucketDir = "key_prefix=x"
  private def bucketOf(width: Int) = concat(lit("x"), substring(col("cache_key"), 1, width))

  /** K5: FileHistory upsert (MERGE semantics on a parquet state table):
    * new rows replace rows with the same (cache_key, file_path) — the key
    * `FileScan.dedupAgainstHistory` skips files by — and others survive,
    * so the same content at several paths keeps one row per path.
    * Parquet has no MERGE — on Delta this is a real MERGE INTO; here the
    * table is partitioned by `key_prefix = "x" + substr(cache_key, 1, w)`
    * and an upsert reads + rewrites ONLY the buckets its update keys land
    * in.
    *
    * The width `w` follows the table's size (`upsertWidth` of the
    * table's rows, counted from its parquet footers, and the update's). A
    * history row is ~80 B on disk in a file of thousands of rows
    * (perfbench's `sinks.history_bytes_per_new_row`: 79 B for 5,000 rows
    * in one file, 203 B when the same rows were spread over 256 files).
    *  - w = 0 up to `RowsPerBucket` (2^18) rows: one bucket, `key_prefix=x`,
    *    so a write is one file; every upsert rewrites all ≤~21 MB of it.
    *  - w = 1 up to 16 × `RowsPerBucket` (~4.2 M) rows: 16 buckets of
    *    ≤2^18 rows; a 1-row upsert rewrites ~1/16th of the table.
    *  - w = 2 above that: 256 buckets, the layout's widest. A 1-row upsert
    *    touches ~1/256th of the table; at 10⁹ files a bucket is ≈0.3 GB,
    *    written by one task.
    * A table whose width on disk differs from the rule's (a flat legacy
    * table, one that grew past a threshold, or a small table in the
    * 256-bucket layout every table had before) is re-laid out once: every
    * row merged and the whole directory swapped. An upsert of no rows
    * writes nothing.
    *
    * Every write goes through `writeBuckets`: each bucket it writes is
    * written by one task as one file, and a wider table's buckets are
    * spread over every core.
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
    val dst = new Path(historyPath)
    // resolve the FS from the path itself — fs.defaultFS may be a
    // different filesystem (e.g. history on s3a, default hdfs)
    val fs = dst.getFileSystem(conf)
    val tableWidth = recoverOrphans(fs, dst)
    // one job over the updates gives both their row count and their
    // buckets at the widest width, which fix those at every narrower one:
    // each partition counts its rows per bucket (≤256 pairs, plus a null
    // key for rows without a cache_key), merged here, with no shuffle
    val perBucket = updates.select(bucketOf(MaxWidth)).rdd
      .mapPartitions { rows =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { r => val b = r.getString(0); counts(b) = counts.getOrElse(b, 0L) + 1 }
        counts.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    require(!perBucket.contains(null), "upsertHistory: a row has no cache_key")
    // nothing to record; a first write of no rows would leave a directory
    // with no parquet file, which no later read can infer a schema from
    if (perBucket.isEmpty) return
    val current = readHistory(spark, historyPath)
    // past 16 × RowsPerBucket rows the width is capped whatever the rest
    val tableRows = footerRows(current, conf, upTo = RowsPerBucket << (4 * (MaxWidth - 1)))
    val width = upsertWidth(tableWidth, tableRows, perBucket.values.sum)
    val keyed = updates.withColumn("key_prefix", bucketOf(width))
    val rowKey = Seq("cache_key", "file_path")
    if (!fs.exists(dst)) {
      writeBuckets(keyed, width, SaveMode.ErrorIfExists, historyPath)
      return
    }
    val staged = historyPath + "__staged"
    if (!tableWidth.contains(width)) {
      // re-layout (a flat legacy table, or a table at another width):
      // merge everything and swap the whole directory (old copy set
      // aside until promote lands)
      val merged = current.drop("key_prefix")
        .join(updates.select(rowKey.map(col): _*), rowKey, "left_anti")
        .unionByName(updates)
        .withColumn("key_prefix", bucketOf(width))
      writeBuckets(merged, width, SaveMode.Overwrite, staged)
      val old = setAside(dst)
      if (fs.exists(old)) fs.delete(old, true)
      if (!fs.rename(dst, old))
        throw new java.io.IOException(s"upsertHistory: cannot set aside $dst")
      if (!fs.rename(new Path(staged), dst))
        // recoverOrphans restores the set-aside table on the next call
        throw new java.io.IOException(
          s"upsertHistory: re-layout promote failed; prior table preserved at $old")
      fs.delete(old, true)
      return
    }
    val prefixes = perBucket.keys.map(_.take(1 + width)).toSeq.distinct
    val merged = current
      .filter(col("key_prefix").isin(prefixes.toIndexedSeq: _*)) // partition pruning
      .join(updates.select(rowKey.map(col): _*), rowKey, "left_anti")
      .unionByName(keyed)
    writeBuckets(merged, width, SaveMode.Overwrite, staged)
    prefixes.foreach { p =>
      val cur = new Path(dst, s"key_prefix=$p")
      val stg = new Path(staged, s"key_prefix=$p")
      val old = new Path(dst, s"key_prefix=$p.__old")
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
    fs.delete(new Path(staged), true)
  }

  /** Rows of a parquet table, summed from its files' footers: reads no
    * column data and runs no job (0 for a frame with no files). Stops
    * once the sum passes `upTo`, so a table far past the widest
    * threshold costs a few footer reads, not one per bucket. The read
    * options are built once, at the first file: built per file from the
    * configuration they cost ~11 ms a footer (256 footers: 3.0 s,
    * against 0.07–0.14 s). */
  private def footerRows(table: DataFrame, conf: Configuration, upTo: Long): Long = {
    lazy val options = HadoopReadOptions.builder(conf).build()
    val counts = table.inputFiles.iterator.map { f =>
      val file = HadoopInputFile.fromPath(new Path(new java.net.URI(f)), conf)
      val reader = ParquetFileReader.open(file, options)
      try reader.getRecordCount finally reader.close()
    }
    var rows = 0L
    while (rows <= upTo && counts.hasNext) rows += counts.next()
    rows
  }

  /** Write a `key_prefix`-partitioned history table with each bucket's
    * rows in one task: otherwise every input partition opens its own
    * writer per bucket and a bucket ends up as many small files. One
    * bucket (width 0) is one task through `coalesce(1)`, with no shuffle.
    * Wider tables are hash-partitioned by bucket; the explicit count (no
    * more tasks than the width has buckets) keeps AQE from coalescing
    * the buckets into fewer tasks. */
  private def writeBuckets(df: DataFrame, width: Int, mode: SaveMode, path: String): Unit =
    (if (width == 0) df.coalesce(1)
     else df.repartition(
       math.min(1 << (4 * width), df.sparkSession.sparkContext.defaultParallelism),
       col("key_prefix")))
      .write.mode(mode).partitionBy("key_prefix").parquet(path)

  /** Restore buckets orphaned by a crash mid-promote: a failure between
    * rename(cur → __old) and rename(staged → cur) leaves `__old` as the
    * bucket's only copy, invisible to the prefix-pruned merge (its
    * partition value reads as "XX.__old"). Rename it back before any
    * read; an `__old` whose `cur` also exists is a completed promote's
    * leftover and is deleted. The re-layout has the same window with
    * `<historyPath>__old` holding the whole table (`restoreSetAside`).
    * Returns the width of the table's bucket names, None for a flat table
    * or no table. */
  private def recoverOrphans(fs: FileSystem, dst: Path): Option[Int] = {
    restoreSetAside(fs, dst)
    if (!fs.exists(dst)) return None
    val buckets = fs.listStatus(dst).map(_.getPath.getName)
      .filter(_.startsWith("key_prefix=")).map { name =>
        if (name.endsWith(".__old")) {
          val cur = new Path(dst, name.stripSuffix(".__old"))
          if (!fs.exists(cur)) fs.rename(new Path(dst, name), cur)
          else fs.delete(new Path(dst, name), true)
        }
        name.stripSuffix(".__old")
      }
    // the longest name: a key shorter than the width names a narrower bucket
    buckets.filter(_.startsWith(BucketDir)).map(_.length - BucketDir.length).maxOption
  }

  /** The re-layout's crash window: between rename(table → `__old`) and
    * the staged copy's promote, `<table>__old` is the table's only copy,
    * so rename it back. An `__old` beside the table is a completed
    * re-layout's leftover and is deleted. */
  private def restoreSetAside(fs: FileSystem, dst: Path): Unit = {
    val old = setAside(dst)
    if (fs.exists(old)) {
      if (!fs.exists(dst)) fs.rename(old, dst)
      else fs.delete(old, true)
    }
  }

  private def setAside(dst: Path): Path = new Path(dst.getParent, dst.getName + "__old")

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
