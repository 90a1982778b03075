package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.TextFunctions
import graft.tools.{HttpTransport, JdkHttpTransport}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7 SaaS connector: Dropbox as a [[StagingConnector]], speaking the
  * public Dropbox API v2 directly over the transport seam (the
  * reference wraps the same API via the dropbox SDK + fsspec —
  * connectors/filesystems/zs_dropbox/). Protocol:
  *  - POST {api}/2/users/get_current_account          — credential probe
  *  - POST {api}/2/files/list_folder {"path","recursive":false}
  *    → entries[{".tag","name","path_lower","size","server_modified"}]
  *    with cursor paging via /2/files/list_folder/continue — the
  *    has_more walk is the Drive nextPageToken analog
  *  - POST {content}/2/files/download, the path riding in the
  *    `Dropbox-API-Arg` JSON header (Dropbox's RPC-over-headers
  *    convention for content endpoints), body = the bytes
  * Same scale shape as every connector here: driver-side bounded
  * metadata walk, executor-side byte transfer over the parallelized
  * listing. */
final class DropboxConnector(accessToken: String,
    mkTransport: () => HttpTransport,
    apiBase: String = "https://api.dropboxapi.com",
    contentBase: String = "https://content.dropboxapi.com",
    override val name: String = "dropbox") extends StagingConnector {

  import DropboxConnector._

  private def authHeaders = Map("Authorization" -> s"Bearer $accessToken")

  def testCredentials(spark: SparkSession, root: String): Boolean =
    scala.util.Try {
      mkTransport().request("POST", s"$apiBase/2/users/get_current_account",
        authHeaders).status == 200
    }.getOrElse(false)

  /** `root` is the Dropbox folder path (`""` or `/` = app root). */
  def listRemote(spark: SparkSession, root: String, glob: String): DataFrame = {
    import spark.implicits._
    val entries = listFolder(root, glob)
    spark.createDataset(entries.map(e =>
        (e.pathLower, e.name, e.size, new java.sql.Timestamp(e.mtimeMs))))
      .repartition(math.max(1, math.min(entries.length, 32)))
      .toDF("remote_path", "file_name", "file_size", "mtime")
  }

  def copyToStaging(spark: SparkSession, root: String, glob: String,
      stagingDir: String): DataFrame = {
    import spark.implicits._
    val (tok, mk, cb) = (accessToken, mkTransport, contentBase)
    listRemote(spark, root, glob)
      .select("remote_path", "file_name").as[(String, String)]
      .foreachPartition { (it: Iterator[(String, String)]) =>
        val t = mk()
        val dir = new org.apache.hadoop.fs.Path(stagingDir)
        val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        it.foreach { case (path, fname) =>
          val r = t.request("POST", s"$cb/2/files/download",
            Map("Authorization" -> s"Bearer $tok",
              "Dropbox-API-Arg" -> s"""{"path":${quoteJson(path)}}"""))
          require(r.status == 200, s"dropbox download $path -> HTTP ${r.status}")
          val out = fs.create(new org.apache.hadoop.fs.Path(dir, fname), true)
          try out.write(r.body) finally out.close()
        }
      }
    new HadoopFsConnector().listRemote(spark, stagingDir, "*")
  }

  private def listFolder(root: String, glob: String): Seq[Entry] = {
    val t = mkTransport()
    val keep = TextFunctions.globMatcher(glob)
    val path = if (root == "/" || root.isEmpty) "" else root
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var body = s"""{"path":${quoteJson(path)},"recursive":false}"""
    var url = s"$apiBase/2/files/list_folder"
    var more = true
    while (more && out.length < MaxListing) {
      val r = t.request("POST", url,
        authHeaders ++ Map("Content-Type" -> "application/json"),
        body.getBytes("UTF-8"))
      require(r.status == 200,
        s"list_folder -> HTTP ${r.status} ${r.text.take(200)}")
      val node = mapper.readTree(r.text)
      val entries = node.path("entries")
      (0 until entries.size()).foreach { i =>
        val e = entries.get(i)
        val name = e.path("name").asText("")
        if (e.path(".tag").asText() == "file" && keep(name) &&
            out.length < MaxListing) {
          out += Entry(e.path("path_lower").asText(""), name,
            e.path("size").asLong(-1),
            scala.util.Try(java.time.Instant.parse(
              e.path("server_modified").asText("")).toEpochMilli).getOrElse(0L))
        }
      }
      more = node.path("has_more").asBoolean(false)
      if (more) {
        url = s"$apiBase/2/files/list_folder/continue"
        body = s"""{"cursor":${quoteJson(node.path("cursor").asText(""))}}"""
      }
    }
    out.toSeq
  }
}

object DropboxConnector {
  val MaxListing = 40000
  private[sources] val mapper = new ObjectMapper()
  private[sources] def quoteJson(s: String): String =
    mapper.writeValueAsString(s)

  final case class Entry(pathLower: String, name: String, size: Long,
      mtimeMs: Long)

  def default(accessToken: String): DropboxConnector =
    new DropboxConnector(accessToken, () => new JdkHttpTransport())
}
