package graft.sources

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SFTP file attributes, the fields SSH_FXP_ATTRS carries that the
  * source stage consumes (size, mtime as Unix seconds, dir flag —
  * draft-ietf-secsh-filexfer-02 §5). The reference's fsspec/paramiko
  * layer surfaces exactly these as `{"size","mtime","type"}`
  * (connectors/filesystems/sftp/sftp.py:82-107: `mtime` is a Unix
  * timestamp converted to UTC, `type == "directory"` is the dir
  * predicate). SFTP has NO content-hash attribute — the reference's
  * extract_metadata_file_hash returns None (sftp.py:70-78), so the
  * engine hashes after staging, same as every connector here. */
final case class SftpAttrs(size: Long, mtimeSec: Long, isDir: Boolean)

/** Raised by a channel on SSH_FX_PERMISSION_DENIED so the connector
  * can surface the reference's user-actionable message
  * (sftp.py:174-185 raise_permission_error). */
final class SftpPermissionDenied(path: String)
    extends RuntimeException(s"permission denied: $path")

/** The SFTP subsystem verbs the connector needs — the packet-level
  * seam (OPENDIR/READDIR, STAT, OPEN/READ/CLOSE) with handle/packet
  * plumbing collapsed into whole-listing and whole-file calls. An SSH
  * transport doesn't ship in this sandbox (no jsch/sshd jar), so this
  * is the injectable boundary: tests drive a canned in-memory channel;
  * a deployment binds a real SSH client here. One channel per executor
  * task slot, same lifecycle as the HTTP transports. */
trait SftpChannel extends java.io.Closeable with Serializable {
  /** SSH_FXP_STAT: attributes, or None on SSH_FX_NO_SUCH_FILE. */
  def stat(path: String): Option[SftpAttrs]
  /** SSH_FXP_OPENDIR + READDIR until SSH_FX_EOF: (name, attrs) per
    * entry, `.`/`..` excluded. */
  def readdir(path: String): Seq[(String, SftpAttrs)]
  /** SSH_FXP_OPEN(READ) + READ loop + CLOSE: the file's bytes. */
  def readFile(path: String): Array[Byte]
}

/** S7 connector: SFTP/SSH as a [[StagingConnector]]
  * (reference connectors/filesystems/sftp/sftp.py — fsspec's
  * SFTPFileSystem over paramiko; host/port/username/password +
  * user_dir settings, sftp.py:14-40). The connector logic is the part
  * the reference implements above paramiko, mirrored here above
  * [[SftpChannel]]:
  *  - test_credentials = "is the user directory a directory?"
  *    (sftp.py:131-146) — false on unreachable/missing/non-dir;
  *  - listing = one readdir of the root, directories dropped by the
  *    attr flag (is_dir_by_metadata, sftp.py:80-90), glob on name,
  *    mtime = Unix seconds → UTC timestamp (sftp.py:92-107);
  *  - staging copy = executor-side reads over the parallelized
  *    listing, one channel per partition;
  *  - SSH_FX_PERMISSION_DENIED surfaces the reference's actionable
  *    message naming the path (sftp.py:174-185). */
final class SftpStagingConnector(mkChannel: () => SftpChannel,
    override val name: String = "sftp") extends StagingConnector {

  override def canWrite: Boolean = true // sftp.py:59-61 can_write

  def testCredentials(spark: SparkSession, root: String): Boolean =
    scala.util.Try {
      val ch = mkChannel()
      try ch.stat(root).exists(_.isDir) finally ch.close()
    }.getOrElse(false)

  def listRemote(spark: SparkSession, root: String, glob: String): DataFrame = {
    import spark.implicits._
    val keep = TextFunctions.globMatcher(glob)
    val ch = mkChannel()
    val entries =
      try {
        ch.readdir(root)
          .filter { case (fname, attrs) => !attrs.isDir && keep(fname) }
          .map { case (fname, attrs) =>
            (joinPath(root, fname), fname, attrs.size,
              new java.sql.Timestamp(attrs.mtimeSec * 1000L))
          }
      } catch {
        case _: SftpPermissionDenied => throw new IllegalStateException(
          "Please verify your SFTP credentials and ensure you have the " +
            s"necessary permissions for the path '$root'.")
      } finally ch.close()
    spark.createDataset(entries)
      .repartition(math.max(1, math.min(entries.length, 32)))
      .toDF("remote_path", "file_name", "file_size", "mtime")
  }

  def copyToStaging(spark: SparkSession, root: String, glob: String,
      stagingDir: String): DataFrame = {
    import spark.implicits._
    val mk = mkChannel
    listRemote(spark, root, glob)
      .select("remote_path", "file_name").as[(String, String)]
      .foreachPartition { (it: Iterator[(String, String)]) =>
        if (it.nonEmpty) {
          val ch = mk()
          val dir = new org.apache.hadoop.fs.Path(stagingDir)
          val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
          try it.foreach { case (path, fname) =>
            val bytes =
              try ch.readFile(path)
              catch {
                case _: SftpPermissionDenied => throw new IllegalStateException(
                  "Please verify your SFTP credentials and ensure you have " +
                    s"the necessary permissions for the path '$path'.")
              }
            val out = fs.create(new org.apache.hadoop.fs.Path(dir, fname), true)
            try out.write(bytes) finally out.close()
          } finally ch.close()
        }
      }
    new HadoopFsConnector().listRemote(spark, stagingDir, "*")
  }

  private def joinPath(root: String, name: String): String =
    if (root.endsWith("/")) root + name else root + "/" + name
}
