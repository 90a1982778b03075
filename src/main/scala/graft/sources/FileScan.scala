package graft.sources

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-stage file scanning (SURVEY.md S1-S7, P1-P2, P10, W1-W2, F1-F2).
  *
  * Reference behavior: fsspec listing with glob/extension filters, depth
  * cap 10, 100-file default limit, FIFO/LIFO mtime ordering with a 40k
  * sort cap, chunked sha256 + libmagic MIME sniff during materialization
  * (endpoint_v2/source.py:292-510, 769-804, 938-1031;
  * constants.py:60,151-198).
  *
  * Spark-first: `binaryFile` gives (path, modificationTime, length,
  * content) with Catalyst-pushable path filters; hashing and MIME
  * sniffing are codegen'd expressions over the content column, not
  * driver-side loops. At 100 TB the listing itself is distributed by the
  * InMemoryFileIndex and content never reaches the driver.
  */
object FileScan {

  /** Scan order over the listing (reference FIFO = oldest mtime first). */
  sealed trait ScanOrder
  case object Fifo extends ScanOrder
  case object Lifo extends ScanOrder

  final case class ScanConfig(
      root: String,
      glob: String = "*",
      recursive: Boolean = true,
      maxDepth: Int = 10,
      order: ScanOrder = Fifo,
      maxFiles: Int = 100,
      allowedMime: Seq[String] = Nil)

  /** Magic-byte MIME sniff (F2) as a pure Column expression. */
  def sniffMime(content: Column, fileName: Column): Column = {
    val magic = upper(hex(substring(content, 1, 4)))
    when(magic.startsWith("25504446"), "application/pdf")            // %PDF
      .when(magic.startsWith("89504E47"), "image/png")
      .when(magic.startsWith("FFD8FF"), "image/jpeg")
      .when(magic.startsWith("504B0304"), "application/zip")          // also docx/xlsx
      .when(magic.startsWith("47494638"), "image/gif")
      .when(lower(fileName).endsWith(".json"), "application/json")
      .when(lower(fileName).endsWith(".csv"), "text/csv")
      .otherwise("text/plain")
  }

  /** Depth of a file below the scan root (root-level file = 1). */
  private def depthBelow(root: String): Column = {
    val rootDepth = size(split(lit(root.stripSuffix("/")), "/"))
    size(split(regexp_replace(col("file_path"), "^file:", ""), "/")) - rootDepth
  }

  /** S1-S6: list + filter + order + limit, producing the engine's
    * FileRow frame: file_path, file_name, file_size, mtime, content,
    * file_hash (sha256), mime_type, file_number.
    *
    * The output is hash-partitioned by `file_path` over
    * `defaultParallelism` partitions, so the stages downstream of the
    * scan (extraction, sinks) run on every core. Partition order is not
    * scan order: `file_number` carries the FIFO/LIFO position, so order
    * by it wherever order matters. */
  def scan(spark: SparkSession, cfg: ScanConfig): DataFrame = {
    val raw = spark.read.format("binaryFile")
      .option("recursiveFileLookup", cfg.recursive.toString)
      .load(cfg.root)
      .select(
        col("path").as("file_path"),
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length").as("file_size"),
        col("modificationTime").as("mtime"),
        col("content"))

    val depthOk = if (cfg.recursive) depthBelow(cfg.root) <= cfg.maxDepth else lit(true)
    val globOk = TextFunctions.globMatch(col("file_name"), cfg.glob)

    val filtered = raw
      .filter(depthOk && globOk && col("file_size") > 0)       // P1 dir/empty guard
      .dropDuplicates("file_path")                             // P2 in-listing dedup
      .withColumn("file_hash", sha2(col("content"), 256))      // F1
      .withColumn("mime_type", sniffMime(col("content"), col("file_name")))

    val mimeOk = if (cfg.allowedMime.isEmpty) filtered
      else filtered.filter(col("mime_type").isin(cfg.allowedMime: _*)) // P10

    // W1/W2: mtime order (path tiebreak), cap, 1-based file_number.
    // The reference caps sortable listings at 40k files; at scale the
    // order-by-limit compiles to TakeOrdered (no full sort materialized)
    // and the sequence numbering stays distributed (no global window).
    val order = cfg.order match {
      case Fifo => Seq(col("mtime").asc, col("file_path"))
      case Lifo => Seq(col("mtime").desc, col("file_path"))
    }
    val limited = mimeOk.orderBy(order: _*).limit(cfg.maxFiles)
    // numbering leaves one partition; spread it by path (stable under
    // task retry). The count is explicit: a count-less repartition(col)
    // may be coalesced back into one partition by AQE.
    graft.operators.Ranks.sequenceNumber(limited, order, "file_number")
      .repartition(spark.sparkContext.defaultParallelism, col("file_path"))
  }

  /** S5: API upload staging (source.py:1190-1288) — the composed
    * operation behind the API deployment's upload endpoint:
    *
    *  1. MIME gate: files with a disallowed type are KEPT but marked
    *     with a `temp-hash-…` placeholder and `is_executed=true`, so
    *     they surface in the response without ever being processed
    *     (and without reading their content).
    *  2. Content sha256 for allowed files (the chunked-hash analog —
    *     Spark's sha2 streams the binary column).
    *  3. In-request dedup: one row per content hash; the
    *     lexicographically-first file name wins (the reference keeps
    *     the first upload; min-over-struct is its deterministic
    *     distributed equivalent, same rule as q22's min(doc_id)).
    *  4. Optional FileHistory short-circuit: hashes with a COMPLETED
    *     history row come back `is_executed=true` (results served from
    *     cache, not recomputed).
    *  5. Optional materialization: accepted content is written under
    *     `stagingDir/<file_name>` per partition — content never
    *     funnels through the driver.
    *
    * Input: (file_name, content[, mime_type]); output adds file_size,
    * mime_type, file_hash, is_executed, file_path. */
  def stageUploads(uploads: DataFrame, allowedMime: Seq[String],
      history: Option[DataFrame] = None,
      stagingDir: Option[String] = None): DataFrame = {
    val withMime =
      (if (uploads.columns.contains("mime_type"))
        uploads.withColumn("mime_type",
          coalesce(col("mime_type"), lit("application/octet-stream")))
      else uploads.withColumn("mime_type",
        sniffMime(col("content"), col("file_name"))))
        .withColumn("file_size", coalesce(length(col("content")), lit(0)).cast("long"))
    val allowedCol =
      if (allowedMime.isEmpty) lit(true) else col("mime_type").isin(allowedMime: _*)

    val rejected = withMime.filter(!allowedCol)
      .withColumn("file_hash",
        concat(lit("temp-hash-"), regexp_replace(uuid(), "-", "")))
      .withColumn("is_executed", lit(true))
      .drop("content")
    val hashed = withMime.filter(allowedCol)
      .withColumn("file_hash", sha2(col("content"), 256))
    val deduped = hashed
      .groupBy(col("file_hash"))
      .agg(min(struct(col("file_name"), col("mime_type"), col("file_size"),
        col("content"))).as("r"))
      .select(col("file_hash"), col("r.file_name"), col("r.mime_type"),
        col("r.file_size"), col("r.content"))

    stagingDir.foreach { dir =>
      deduped.select(col("file_name"), col("content"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val root = new org.apache.hadoop.fs.Path(dir)
          val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())
          it.foreach { r =>
            val out = fs.create(new org.apache.hadoop.fs.Path(root, r.getString(0)), true)
            try out.write(r.getAs[Array[Byte]](1)) finally out.close()
          }
        }
    }

    val executed = history match {
      case Some(h) =>
        val done = h.filter(col("status") === "COMPLETED")
          .select(col("cache_key")).distinct()
        deduped.join(broadcast(done),
            deduped("file_hash") === done("cache_key"), "left_outer")
          .withColumn("is_executed", col("cache_key").isNotNull)
          .drop("cache_key")
      case None => deduped.withColumn("is_executed", lit(false))
    }
    executed.drop("content")
      .unionByName(rejected, allowMissingColumns = true)
      .withColumn("file_path",
        stagingDir.map(d => concat(lit(d.stripSuffix("/") + "/"), col("file_name")))
          .getOrElse(lit(null).cast("string")))
  }

  /** P3/J1: FileHistory dedup — drop files whose (file_hash, file_path)
    * has a COMPLETED history row (source.py:806-868). */
  def dedupAgainstHistory(files: DataFrame, history: DataFrame): DataFrame = {
    val done = history.filter(col("status") === "COMPLETED")
      .select(col("cache_key"), col("file_path").as("h_path"))
    files.join(done,
      files("file_hash") === done("cache_key") && files("file_path") === done("h_path"),
      "left_anti")
  }

  /** P4/J2: drop files with an in-flight (PENDING/EXECUTING) execution. */
  def dedupInFlight(files: DataFrame, active: DataFrame): DataFrame =
    files.join(
      active.filter(col("status").isin("PENDING", "EXECUTING"))
        .select(col("cache_key")),
      files("file_hash") === col("cache_key"), "left_anti")

  /** J3: reuse cached results — left join COMPLETED history, rows with a
    * cached result carry it (callers skip recompute via the flag). */
  def reuseCachedResults(files: DataFrame, history: DataFrame): DataFrame = {
    val done = history.filter(col("status") === "COMPLETED")
      .select(col("cache_key"), col("result").as("cached_result"))
    files.join(done, files("file_hash") === done("cache_key"), "left_outer")
      .withColumn("from_cache", col("cached_result").isNotNull)
      .drop("cache_key")
  }
}
