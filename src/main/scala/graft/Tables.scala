package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) —
  * and, unchanged, on a real cluster against s3a://…/sf1000.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else readParquet(spark, s"$dir/$name.parquet")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Map[String, String]), StructType]()

  /** `spark.read.parquet(path)`, inferring a single file's schema once.
    * Inference is a Spark job (`mergeSchemasInParallel`) on every read,
    * and every query re-reads the same table files: with the schema
    * remembered, a re-read plans with `spark.read.schema(s)` and runs no
    * job. The memo is keyed by the file's qualified path, length and
    * modification time — a rewritten file is inferred afresh — and by
    * the session's parquet read settings, which steer inference. A
    * directory is read as before. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = scala.util.Try(fs.getFileStatus(p)).toOption
    st.filter(_.isFile) match {
      case Some(f) =>
        val settings = spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
        val key = (fs.makeQualified(p).toString, f.getLen, f.getModificationTime, settings)
        val schema = schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Load + round-robin repartition to the cluster's parallelism.
    *
    * The driver test tables are single-row-group parquet files, which
    * Spark cannot split — a CPU-heavy narrow map (sha256 shingling,
    * regexp extraction) would otherwise run in ONE task. At production
    * scale inputs arrive as many files/row groups and scans parallelize
    * naturally; this is the local-mode equalizer for compute-bound map
    * stages. Don't use it before a plain agg/join — the extra shuffle
    * isn't paid back there.
    */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** events.parquet has shipped with two physical `ts` encodings across
    * testdata generations: parquet TIMESTAMP(NANOS) (which Spark cannot
    * read natively — [PARQUET_TYPE_ILLEGAL] — so we read nanos as Long
    * under the legacy flag and truncate to microseconds) and plain
    * timestamp[us] (readable directly). Branch on the READ schema, not an
    * assumption, so a driver-side regen of /root/testdata can never break
    * every downstream events query again.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer division: a double intermediate (ts/1000) only carries 53
        // mantissa bits and corrupts the microsecond digit at ~1.7e18 ns
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}

/** A registered engine query: Spark plan + (optionally) the equivalent
  * ANSI SQL the driver runs in DuckDB as the correctness oracle.
  *
  * Column names and types MUST match between `fn`'s output and `oracle`
  * (the driver sorts columns by name and hashes values). Every query adds
  * a deterministic total ORDER BY (with a unique tiebreaker) on both
  * sides, and rounds any *computed* floating-point column; raw
  * passthrough doubles are left untouched (bit-identical in both
  * engines).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)
