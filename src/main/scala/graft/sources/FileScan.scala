package graft.sources

import graft.functions.TextFunctions
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Source-stage file scanning (SURVEY.md S1-S7, P1-P2, P10, W1-W2, F1-F2).
  *
  * Reference behavior: fsspec listing with glob/extension filters, depth
  * cap 10, 100-file default limit, FIFO/LIFO mtime ordering with a 40k
  * sort cap, chunked sha256 + libmagic MIME sniff during materialization
  * (endpoint_v2/source.py:292-510, 769-804, 938-1031;
  * constants.py:60,151-198).
  *
  * Metadata first, as in the reference: the listing is the file index
  * `binaryFile` builds on the driver (path, length, mtime; no job, no
  * file opened), and filtering, ordering, the cap and numbering run over
  * those rows on the driver. Only the kept files are read, each once, in
  * the partition that goes on to extract it, so content never crosses a
  * shuffle and never reaches the driver. Hashing and MIME sniffing are
  * codegen'd expressions over the content column, not driver-side loops.
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

  /** The listing's depth cap as a test on a path: its depth below the
    * scan root (root-level file = 1) is at most `maxDepth`. Both sides
    * count the segments of their URI path, so `/x`, `file:/x`,
    * `file:///x` and `scheme://host/x` roots cap at the same level. */
  private def depthWithin(conf: Broadcast[SerializableConfiguration], root: String,
      maxDepth: Int): String => Boolean = {
    val r = new Path(root)
    val rootPath = r.getFileSystem(conf.value.value).makeQualified(r).toUri.getPath
    val rootDepth = rootPath.stripSuffix("/").split("/", -1).length
    path => UriPrefix.matcher(path).replaceFirst("").split("/", -1).length - rootDepth <= maxDepth
  }

  private val UriPrefix = java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?")

  /** One listed file, as the driver holds it. */
  private final case class Listed(path: String, name: String, size: Long, mtimeMs: Long) {
    /** `path` as Spark orders strings: by UTF-8 bytes, not UTF-16 units. */
    lazy val pathKey: UTF8String = UTF8String.fromString(path)
    def row: Row = Row(path, name, size, mtimeMs)
  }

  /** S1 listing: the file index `binaryFile` builds on the driver for
    * `root`, with its hidden-file and `recursiveFileLookup` rules. Runs
    * no job and opens no file. Paths in one listing are unique, so the
    * in-listing dedup (P2) holds without a shuffle. */
  private def listing(spark: SparkSession, root: String, recursive: Boolean): Seq[Listed] = {
    val index = spark.read.format("binaryFile")
      .option("recursiveFileLookup", recursive.toString)
      .load(root)
      .queryExecution.analyzed
      .collectFirst { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location }
      .get
    index.listFiles(Nil, Nil).flatMap(_.files).map { f =>
      val s = f.fileStatus
      val path = s.getPath.toString
      Listed(path, path.substring(path.lastIndexOf('/') + 1), s.getLen, s.getModificationTime)
    }
  }

  // nullable, as binaryFile reads them; file_number as Ranks numbers
  private val ListingSchema = StructType(Seq(
    StructField("file_path", StringType),
    StructField("file_name", StringType),
    StructField("file_size", LongType),
    StructField("mtime_ms", LongType)))
  private val NumberedSchema = ListingSchema.add("file_number", IntegerType, nullable = false)

  /** `rows` as a frame over `defaultParallelism` partitions, `mtime_ms`
    * turned into binaryFile's `mtime` timestamp. */
  private def listingFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema)
      .withColumn("mtime_ms", timestamp_millis(col("mtime_ms")))
      .withColumnRenamed("mtime_ms", "mtime")

  /** [[listing]] as rows of file_path, file_name, file_size, mtime. */
  def listFiles(spark: SparkSession, root: String, recursive: Boolean): DataFrame =
    listingFrame(spark, listing(spark, root, recursive).map(_.row), ListingSchema)

  /** The session's Hadoop configuration (`spark.hadoop.*` and session
    * `fs.*` settings included), broadcast once for executor-side reads
    * and writes. */
  def hadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  private[sources] def withStream[T](conf: Broadcast[SerializableConfiguration], path: String)(
      f: java.io.InputStream => T): T = {
    val p = new Path(path)
    val in = p.getFileSystem(conf.value.value).open(p)
    try f(in) finally in.close()
  }

  // The file reads are non-deterministic UDFs so that the optimizer
  // neither copies a read into a pushed-down filter nor inlines it into
  // each consumer of its column: every read runs once per row.

  /** A file's bytes, with binaryFile's error for files over its
    * `spark.sql.sources.binaryFile.maxLength`. */
  private def readContent(conf: Broadcast[SerializableConfiguration],
      maxLength: Int): UserDefinedFunction =
    udf { (path: String, size: Long) =>
      if (size > maxLength) throw new SparkException("_LEGACY_ERROR_TEMP_2076",
        Map("path" -> path, "len" -> size.toString, "maxLength" -> maxLength.toString), null)
      withStream(conf, path)(_.readAllBytes())
    }.asNondeterministic()

  /** The 4-byte head [[sniffMime]] looks at. */
  private def readHead(conf: Broadcast[SerializableConfiguration]): UserDefinedFunction =
    udf((path: String) => withStream(conf, path)(_.readNBytes(4))).asNondeterministic()

  /** S1-S6: list + filter + order + limit, producing the engine's
    * FileRow frame: file_path, file_name, file_size, mtime, content,
    * file_hash (sha256), mime_type, file_number.
    *
    *  1. metadata, on the driver: the [[listing]] it already holds, then
    *     the depth, glob and empty-file filters, the MIME gate (one job
    *     reading only each candidate's 4-byte head, and only when
    *     `allowedMime` is set), mtime order, the cap and `file_number`;
    *  2. read: the numbered rows are sliced over `defaultParallelism`
    *     partitions, so the stages downstream of the scan (extraction,
    *     sinks) run on every core, and each kept file is read once in its
    *     slice, with the session's Hadoop configuration, and hashed and
    *     sniffed there. No job runs until the caller's action, and no
    *     exchange moves the rows.
    *
    * A slice of a fixed sequence is as stable under task retry as a hash
    * partition. Partition order is scan order, but `file_number` carries
    * the FIFO/LIFO position: order by it wherever order matters. */
  def scan(spark: SparkSession, cfg: ScanConfig): DataFrame = {
    val conf = hadoopConf(spark)
    val depthOk = if (cfg.recursive) depthWithin(conf, cfg.root, cfg.maxDepth) else (_: String) => true
    val globOk = TextFunctions.globMatcher(cfg.glob)
    val listed = listing(spark, cfg.root, cfg.recursive)
      .filter(f => depthOk(f.path) && globOk(f.name) && f.size > 0) // P1 dir/empty guard

    val candidates = if (cfg.allowedMime.isEmpty) listed          // P10, before the cap
      else {
        val kept = listingFrame(spark, listed.map(_.row), ListingSchema)
          .withColumn("head", readHead(conf)(col("file_path")))
          .filter(sniffMime(col("head"), col("file_name")).isin(cfg.allowedMime: _*))
          .select("file_path").collect().map(_.getString(0)).toSet // bounded by the listing
        listed.filter(f => kept(f.path))
      }

    // W1/W2: mtime order, ties by path in Spark's (UTF-8 byte) string
    // order, the cap, a 1-based file_number. The reference caps sortable
    // listings at 40k files; the driver holds the whole listing already.
    val byMtime = Ordering.by[Listed, Long](_.mtimeMs)
    val order = (cfg.order match {
      case Fifo => byMtime
      case Lifo => byMtime.reverse
    }).orElse(Ordering.fromLessThan[Listed]((a, b) => a.pathKey.compareTo(b.pathKey) < 0))
    val numbered = candidates.sorted(order).take(cfg.maxFiles).zipWithIndex
      .map { case (f, i) => Row(f.path, f.name, f.size, f.mtimeMs, i + 1) }

    val maxLength = spark.conf.get("spark.sql.sources.binaryFile.maxLength").toInt
    listingFrame(spark, numbered, NumberedSchema)
      .withColumn("content", readContent(conf, maxLength)(col("file_path"), col("file_size")))
      .select(col("file_path"), col("file_name"), col("file_size"), col("mtime"),
        col("content"),
        sha2(col("content"), 256).as("file_hash"),                      // F1
        sniffMime(col("content"), col("file_name")).as("mime_type"),    // F2
        col("file_number"))
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
      val conf = hadoopConf(uploads.sparkSession)
      deduped.select(col("file_name"), col("content"))
        .foreachPartition { (it: Iterator[Row]) =>
          val root = new Path(dir)
          val fs = root.getFileSystem(conf.value.value)
          it.foreach { r =>
            val out = fs.create(new Path(root, r.getString(0)), true)
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
    * cached result carry it (callers skip recompute via the flag). The
    * history keeps a row per path a content was seen at; one of them
    * serves, so each file stays one row. */
  def reuseCachedResults(files: DataFrame, history: DataFrame): DataFrame = {
    val done = history.filter(col("status") === "COMPLETED")
      .dropDuplicates("cache_key")
      .select(col("cache_key"), col("result").as("cached_result"))
    files.join(done, files("file_hash") === done("cache_key"), "left_outer")
      .withColumn("from_cache", col("cached_result").isNotNull)
      .drop("cache_key")
  }
}
