package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.TextFunctions
import graft.tools.{HttpTransport, JdkHttpTransport}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7 SaaS connector: SharePoint as a [[StagingConnector]] over
  * Microsoft Graph (the reference's sharepoint connector wraps the
  * same service through an fsspec filesystem —
  * connectors/filesystems/sharepoint/sharepoint.py). Protocol:
  *  - auth: the OAuth2 client-credentials grant against the tenant's
  *    /oauth2/v2.0/token endpoint, scope
  *    https://graph.microsoft.com/.default — a plain form POST (no JWT
  *    signing; Azure AD mints the token from the app secret)
  *  - GET {graph}/v1.0/sites/{site}/drive/root:/{path}:/children
  *    ?$select=… — listing with @odata.nextLink paging (absolute
  *    continuation URLs, vs Drive's token / Box's offset)
  *  - GET {graph}/v1.0/sites/{site}/drive/items/{id}/content →
  *    302 Location to the download host, followed explicitly (the
  *    SSRF-hardened transport does not auto-follow)
  */
final class SharePointConnector(auth: GraphClientCredentials,
    siteId: String, mkTransport: () => HttpTransport,
    graphBase: String = "https://graph.microsoft.com",
    override val name: String = "sharepoint") extends StagingConnector {

  import SharePointConnector._

  def testCredentials(spark: SparkSession, root: String): Boolean =
    scala.util.Try {
      val t = mkTransport()
      t.request("GET", s"$graphBase/v1.0/sites/$siteId",
        Map("Authorization" -> s"Bearer ${auth.token(t)}")).status == 200
    }.getOrElse(false)

  /** `root` is the drive-relative folder path ("" = drive root). */
  def listRemote(spark: SparkSession, root: String, glob: String): DataFrame = {
    import spark.implicits._
    val entries = listFolder(root, glob)
    spark.createDataset(entries.map(e =>
        (e.id, e.name, e.size, new java.sql.Timestamp(e.mtimeMs))))
      .repartition(math.max(1, math.min(entries.length, 32)))
      .toDF("remote_path", "file_name", "file_size", "mtime")
  }

  def copyToStaging(spark: SparkSession, root: String, glob: String,
      stagingDir: String): DataFrame = {
    import spark.implicits._
    val (a, mk, g, site) = (auth, mkTransport, graphBase, siteId)
    listRemote(spark, root, glob)
      .select("remote_path", "file_name").as[(String, String)]
      .foreachPartition { (it: Iterator[(String, String)]) =>
        val t = mk()
        val dir = new org.apache.hadoop.fs.Path(stagingDir)
        val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        it.foreach { case (id, fname) =>
          val hdr = Map("Authorization" -> s"Bearer ${a.token(t)}")
          val first = t.request("GET",
            s"$g/v1.0/sites/$site/drive/items/$id/content", hdr)
          val r =
            if (first.status == 302)
              t.request("GET", first.header("Location").getOrElse(
                throw new IllegalStateException("302 without Location")))
            else first
          require(r.status == 200, s"graph download $id -> HTTP ${r.status}")
          val out = fs.create(new org.apache.hadoop.fs.Path(dir, fname), true)
          try out.write(r.body) finally out.close()
        }
      }
    new HadoopFsConnector().listRemote(spark, stagingDir, "*")
  }

  private def listFolder(root: String, glob: String): Seq[Entry] = {
    val t = mkTransport()
    val keep = TextFunctions.globMatcher(glob)
    val base =
      if (root.isEmpty || root == "/") s"$graphBase/v1.0/sites/$siteId/drive/root/children"
      else s"$graphBase/v1.0/sites/$siteId/drive/root:/${root.stripPrefix("/")}:/children"
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var url: Option[String] =
      Some(s"$base?$$select=id,name,size,file,folder,lastModifiedDateTime")
    while (url.nonEmpty && out.length < MaxListing) {
      val r = t.request("GET", url.get,
        Map("Authorization" -> s"Bearer ${auth.token(t)}"))
      require(r.status == 200, s"children -> HTTP ${r.status} ${r.text.take(200)}")
      val node = mapper.readTree(r.text)
      val items = node.path("value")
      (0 until items.size()).foreach { i =>
        val e = items.get(i)
        val nm = e.path("name").asText("")
        // driveItems carry a `file` facet or a `folder` facet
        if (!e.path("file").isMissingNode && keep(nm) &&
            out.length < MaxListing)
          out += Entry(e.path("id").asText(""), nm, e.path("size").asLong(-1),
            scala.util.Try(java.time.Instant.parse(
              e.path("lastModifiedDateTime").asText("")).toEpochMilli)
              .getOrElse(0L))
      }
      url = Option(node.path("@odata.nextLink").asText("")).filter(_.nonEmpty)
    }
    out.toSeq
  }
}

object SharePointConnector {
  val MaxListing = 40000
  private[sources] val mapper = new ObjectMapper()
  final case class Entry(id: String, name: String, size: Long, mtimeMs: Long)

  def default(auth: GraphClientCredentials, siteId: String): SharePointConnector =
    new SharePointConnector(auth, siteId, () => new JdkHttpTransport())
}

/** Azure AD client-credentials grant with token caching — the app-only
  * auth the reference's SharePoint connector runs on. */
final class GraphClientCredentials(tenantId: String, clientId: String,
    clientSecret: String,
    loginBase: String = "https://login.microsoftonline.com",
    clock: () => Long = () => System.currentTimeMillis() / 1000)
    extends Serializable {

  // NOT transient: executor copies must not deserialize to null
  private var cached: (String, Long) = ("", 0L)

  def token(t: HttpTransport): String = synchronized {
    val now = clock()
    if (cached._1.nonEmpty && now < cached._2 - 60) return cached._1
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val body = (s"grant_type=client_credentials&client_id=${enc(clientId)}" +
      s"&client_secret=${enc(clientSecret)}" +
      s"&scope=${enc("https://graph.microsoft.com/.default")}").getBytes("UTF-8")
    val r = t.request("POST", s"$loginBase/$tenantId/oauth2/v2.0/token",
      Map("Content-Type" -> "application/x-www-form-urlencoded"), body)
    require(r.status == 200, s"graph token -> HTTP ${r.status} ${r.text.take(200)}")
    val node = SharePointConnector.mapper.readTree(r.text)
    val tok = node.path("access_token").asText("")
    require(tok.nonEmpty, "graph token grant returned no access_token")
    cached = (tok, now + node.path("expires_in").asLong(3600))
    tok
  }
}
