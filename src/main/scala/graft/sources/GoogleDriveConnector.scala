package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.functions.TextFunctions
import graft.tools.{HttpTransport, JdkHttpTransport}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7 SaaS connector: Google Drive as a [[StagingConnector]], speaking
  * the public Drive v3 REST protocol directly over the injectable
  * [[HttpTransport]] seam (the reference wraps the same protocol via
  * pydrive2/fsspec — connectors/filesystems/google_drive/
  * google_drive.py:1-313; its settings dict is {access_token,
  * refresh_token, token_expiry}, mirrored by [[DriveAuth]]).
  *
  * Protocol surface (all public API):
  *  - GET /drive/v3/about?fields=user                — credential probe
  *  - GET /drive/v3/files?q='<folder>' in parents and trashed=false
  *        &fields=nextPageToken,files(id,name,mimeType,size,modifiedTime)
  *        &pageSize=1000[&pageToken=…]               — paged listing
  *  - GET /drive/v3/files/{id}?alt=media             — binary download
  *  - GET /drive/v3/files/{id}/export?mimeType=…     — Google-native
  *        types (Docs/Sheets/Slides) have no binary content and MUST be
  *        exported; the staged copy gains the export extension
  *  - POST {tokenUrl}: grant_type=refresh_token       — expired access
  *        tokens refresh once on 401, then the request retries
  *
  * Scale shape is the HttpStagingConnector's: the paged files.list is
  * the one driver-side step (bounded metadata, fsspec `_ls` analog,
  * capped at [[GoogleDriveConnector.MaxListing]]); per-file byte
  * transfer runs executor-side over the parallelized listing, so
  * content never funnels through the driver.
  */
final class GoogleDriveConnector(auth: DriveAuth,
    mkTransport: () => HttpTransport,
    apiBase: String = "https://www.googleapis.com",
    tokenUrl: String = "https://oauth2.googleapis.com/token",
    override val name: String = "google_drive") extends StagingConnector {

  import GoogleDriveConnector._

  def testCredentials(spark: SparkSession, root: String): Boolean =
    scala.util.Try {
      val c = new DriveClient(auth, mkTransport(), apiBase, tokenUrl)
      c.get(s"$apiBase/drive/v3/about?fields=user").status == 200
    }.getOrElse(false)

  /** `root` is the Drive folder id (optionally `gdrive://<id>`). */
  def listRemote(spark: SparkSession, root: String, glob: String): DataFrame = {
    import spark.implicits._
    val entries = listFolder(root, glob)
    spark.createDataset(entries.map(e =>
        (e.id, e.name, e.size, new java.sql.Timestamp(e.mtimeMs), e.mime)))
      .repartition(math.max(1, math.min(entries.length, 32)))
      .toDF("remote_path", "file_name", "file_size", "mtime", "mime_type")
  }

  def copyToStaging(spark: SparkSession, root: String, glob: String,
      stagingDir: String): DataFrame = {
    import spark.implicits._
    val (a, mk, api, tok) = (auth, mkTransport, apiBase, tokenUrl)
    listRemote(spark, root, glob)
      .select("remote_path", "file_name", "mime_type")
      .as[(String, String, String)]
      .foreachPartition { (it: Iterator[(String, String, String)]) =>
        val c = new DriveClient(a, mk(), api, tok)
        val dir = new org.apache.hadoop.fs.Path(stagingDir)
        val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        it.foreach { case (id, fname, mime) =>
          val (url, stagedName) = exportMime.get(mime) match {
            case Some((em, ext)) => // Google-native: export, add extension
              (s"$api/drive/v3/files/$id/export?mimeType=" +
                java.net.URLEncoder.encode(em, "UTF-8"), fname + ext)
            case None => (s"$api/drive/v3/files/$id?alt=media", fname)
          }
          val r = c.get(url)
          require(r.status == 200, s"drive download $id -> HTTP ${r.status}")
          val out = fs.create(new org.apache.hadoop.fs.Path(dir, stagedName), true)
          try out.write(r.body) finally out.close()
        }
      }
    new HadoopFsConnector().listRemote(spark, stagingDir, "*")
  }

  /** Driver-side paged files.list (the bounded-metadata step). */
  private def listFolder(root: String, glob: String): Seq[DriveEntry] = {
    val folder = root.stripPrefix("gdrive://").stripSuffix("/")
    val c = new DriveClient(auth, mkTransport(), apiBase, tokenUrl)
    val keep = TextFunctions.globMatcher(glob)
    val q = java.net.URLEncoder.encode(
      s"'$folder' in parents and trashed=false", "UTF-8")
    val fields = java.net.URLEncoder.encode(
      "nextPageToken,files(id,name,mimeType,size,modifiedTime)", "UTF-8")
    val out = scala.collection.mutable.ArrayBuffer.empty[DriveEntry]
    var pageToken: Option[String] = None
    var done = false
    while (!done && out.length < MaxListing) {
      val url = s"$apiBase/drive/v3/files?q=$q&fields=$fields&pageSize=1000" +
        pageToken.map(t => s"&pageToken=$t").getOrElse("")
      val r = c.get(url)
      require(r.status == 200, s"files.list -> HTTP ${r.status} ${r.text.take(200)}")
      val node = mapper.readTree(r.text)
      val files = node.path("files")
      (0 until files.size()).foreach { i =>
        val f = files.get(i)
        val mime = f.path("mimeType").asText("")
        val name = f.path("name").asText("")
        // folders are namespace nodes, not files (P1 analog)
        if (mime != "application/vnd.google-apps.folder" &&
            keep(name) && out.length < MaxListing) {
          out += DriveEntry(f.path("id").asText(""), name, mime,
            f.path("size").asText("-1").toLong, // Google-native: no size
            scala.util.Try(java.time.Instant.parse(
              f.path("modifiedTime").asText("")).toEpochMilli).getOrElse(0L))
        }
      }
      pageToken = Option(node.path("nextPageToken").asText(""))
        .filter(_.nonEmpty)
      done = pageToken.isEmpty
    }
    out.toSeq
  }
}

object GoogleDriveConnector {
  /** Listing cap — the reference's sortable-listing bound
    * (endpoint_v2/constants.py:196-198). */
  val MaxListing = 40000

  private[sources] val mapper = new ObjectMapper()

  /** Google-native MIME → (export MIME, staged extension). The
    * reference gets this from pydrive2's export map; these are the
    * Drive API's documented text-bearing export targets. */
  val exportMime: Map[String, (String, String)] = Map(
    "application/vnd.google-apps.document" -> ("text/plain", ".txt"),
    "application/vnd.google-apps.spreadsheet" -> ("text/csv", ".csv"),
    "application/vnd.google-apps.presentation" -> ("text/plain", ".txt"))

  final case class DriveEntry(id: String, name: String, mime: String,
      size: Long, mtimeMs: Long)

  /** Production instance (JDK transport, real Google endpoints). */
  def default(auth: DriveAuth): GoogleDriveConnector =
    new GoogleDriveConnector(auth, () => new JdkHttpTransport())
}

/** The reference's OAuth settings dict (google_drive.py:46-63):
  * access + refresh token pair; client id/secret feed the refresh
  * exchange. Serializable so it ships inside executor closures. */
final case class DriveAuth(accessToken: String, refreshToken: String = "",
    clientId: String = "", clientSecret: String = "")

/** Bearer-auth client with single-flight refresh-on-401: an expired
  * access token triggers ONE refresh_token grant against `tokenUrl`,
  * then the original request retries with the new token — the behavior
  * pydrive2's auth layer gives the reference. Per-partition instance;
  * the refreshed token lives for the partition. */
private[sources] final class DriveClient(auth: DriveAuth, t: HttpTransport,
    apiBase: String, tokenUrl: String) {
  private var token = auth.accessToken

  def get(url: String): graft.tools.HttpResponse = {
    val r = t.request("GET", url, Map("Authorization" -> s"Bearer $token"))
    if (r.status == 401 && auth.refreshToken.nonEmpty) {
      refresh()
      t.request("GET", url, Map("Authorization" -> s"Bearer $token"))
    } else r
  }

  private def refresh(): Unit = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val body = (s"grant_type=refresh_token&refresh_token=${enc(auth.refreshToken)}" +
      s"&client_id=${enc(auth.clientId)}&client_secret=${enc(auth.clientSecret)}")
      .getBytes("UTF-8")
    val r = t.request("POST", tokenUrl,
      Map("Content-Type" -> "application/x-www-form-urlencoded"), body)
    require(r.status == 200, s"token refresh -> HTTP ${r.status}")
    val newTok = GoogleDriveConnector.mapper.readTree(r.text)
      .path("access_token").asText("")
    require(newTok.nonEmpty, "token refresh returned no access_token")
    token = newTok
  }
}
