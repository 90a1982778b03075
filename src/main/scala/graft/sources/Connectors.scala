package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S7 filesystem-connector contract: the reference ships 11+ fsspec
  * connectors (google_drive, zs_dropbox, box, sharepoint, gcs,
  * azure_cloud_storage, minio, sftp, http, local_storage, ucs —
  * unstract/connectors/src/unstract/connectors/filesystems/), each a
  * listable remote namespace whose files are COPIED into execution
  * staging before the pipeline runs (source.py staging step). This
  * trait factors that copy step out: a connector is pluggable, and
  * everything downstream (FileScan.scan → extract → sink) is
  * connector-agnostic because it only ever sees the staged directory.
  *
  * [[HadoopFsConnector]] is the engine-native implementation covering
  * every Hadoop-supported scheme (file://, hdfs://, s3a://, abfs://,
  * gs:// with the right jars) — listing from the driver's file index,
  * copies distributed, content never on the driver. The SaaS roster
  * implements the same trait at the public wire-protocol level over
  * the injectable [[graft.tools.HttpTransport]]:
  * [[GoogleDriveConnector]] (Drive v3 REST),
  * [[DropboxConnector]] (API v2),
  * [[BoxConnector]] (Box API 2.0),
  * [[SharePointConnector]] (Microsoft Graph), and
  * [[HttpStagingConnector]] (fsspec-style HTTP file server);
  * [[SftpStagingConnector]] covers the one non-HTTP wire over the
  * injectable SFTP-subsystem channel seam. The reference's `ucs` row
  * ("Unstract Cloud Storage", ucs/ucs.py:8-13) subclasses its minio
  * connector — the S3 wire, i.e. the s3a scheme here — so every
  * filesystem roster row maps onto one of these.
  */
trait StagingConnector extends Serializable {
  def name: String
  def canRead: Boolean = true
  def canWrite: Boolean = false
  /** Cheap credential/reachability probe (test_credentials). */
  def testCredentials(spark: SparkSession, root: String): Boolean

  /** Remote listing with the metadata the source stage sorts and
    * filters on: (remote_path, file_name, file_size, mtime). */
  def listRemote(spark: SparkSession, root: String, glob: String = "*"): DataFrame

  /** The staging copy: matching remote files land under `stagingDir`
    * (flat, by file name — the reference stages per execution).
    * Returns the staged listing frame. */
  def copyToStaging(spark: SparkSession, root: String, glob: String,
      stagingDir: String): DataFrame
}

/** Hadoop-scheme connector: lists from the driver's file index
  * ([[FileScan.listFiles]]); each partition streams its files to the
  * staging FS with the session's Hadoop configuration. */
final class HadoopFsConnector(override val name: String = "hadoop_fs")
    extends StagingConnector {

  def testCredentials(spark: SparkSession, root: String): Boolean =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }.getOrElse(false)

  private def matching(spark: SparkSession, root: String, glob: String): DataFrame =
    FileScan.listFiles(spark, root, recursive = true)
      .filter(graft.functions.TextFunctions.globMatch(col("file_name"), glob))

  def listRemote(spark: SparkSession, root: String, glob: String): DataFrame =
    matching(spark, root, glob).withColumnRenamed("file_path", "remote_path")

  def copyToStaging(spark: SparkSession, root: String, glob: String,
      stagingDir: String): DataFrame = {
    val conf = FileScan.hadoopConf(spark)
    matching(spark, root, glob).select(col("file_path"), col("file_name"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val hconf = conf.value.value
        val dir = new org.apache.hadoop.fs.Path(stagingDir)
        val fs = dir.getFileSystem(hconf)
        it.foreach { r =>
          FileScan.withStream(conf, r.getString(0)) { in =>
            val out = fs.create(new org.apache.hadoop.fs.Path(dir, r.getString(1)), true)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, hconf, false)
            finally out.close()
          }
        }
      }
    listRemote(spark, stagingDir, glob)
  }
}

/** Connector registry (register.py analog): scheme/name → connector. */
object ConnectorRegistry {
  private val connectors =
    scala.collection.concurrent.TrieMap[String, StagingConnector](
      "hadoop_fs" -> new HadoopFsConnector(),
      // Hadoop schemes all route to the native connector
      "file" -> new HadoopFsConnector("file"),
      "hdfs" -> new HadoopFsConnector("hdfs"),
      "s3a" -> new HadoopFsConnector("s3a"),
      // non-Hadoop backend: fsspec-style HTTP file server
      "http" -> HttpStagingConnector.default())

  def register(c: StagingConnector): Unit = connectors.put(c.name, c)
  def unregister(name: String): Unit = connectors.remove(name)
  def get(name: String): Option[StagingConnector] = connectors.get(name)
  def list: Seq[String] = connectors.keys.toSeq.sorted
}
