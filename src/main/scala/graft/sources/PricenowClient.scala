package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-side Pricenow connector: the reference's auth/pagination layer
  * (SURVEY.md §2.1 S1-S11) re-expressed with an injectable transport so it
  * is fully testable with zero egress. Exact reference semantics:
  *
  *  - token validity with 60 s early refresh (S7, `scripts/pricenow_etl.py:16-18`)
  *  - memory -> disk-cache -> fresh-fetch token resolution (S9, ref :57-68)
  *  - JSON disk cache with absolute `expires_at` (S8, ref :20-34)
  *  - authed GET retried ONCE on 401 after a forced refresh (S10/S11, ref :71-85)
  *  - exhaustive pagination: stop on short or empty page, `maxPages`
  *    runaway guard that throws rather than truncate (S3, ref :179-190)
  *
  * Ingest stays a driver concern (Spark has no HTTP source); the landed
  * payloads feed [[PricenowCatalogSource]] / `from_json` downstream. In
  * production the transport is an HTTP client; in tests it is a scripted
  * function.
  *
  * @param transport (url, params, bearerToken) => (status, body)
  * @param fetchToken () => (accessToken, expiresInSeconds)
  * @param clock epoch seconds, injectable for expiry tests
  */
class PricenowClient(
    transport: (String, Map[String, String], String) => (Int, String),
    fetchToken: () => (String, Long),
    cachePath: Option[Path] = None,
    clock: () => Long = () => System.currentTimeMillis() / 1000,
    refreshMarginSeconds: Long = 60) {

  private val mapper = new ObjectMapper()
  private var token: Option[(String, Long)] = None // (access, expires_at)

  /** S7: valid while now < expires_at - margin. */
  private def tokenValid(t: (String, Long)): Boolean =
    clock() < t._2 - refreshMarginSeconds

  private def loadCache(): Option[(String, Long)] =
    cachePath.filter(Files.exists(_)).flatMap { p =>
      scala.util.Try {
        val n = mapper.readTree(Files.readAllBytes(p))
        (n.get("access_token").asText(), n.get("expires_at").asLong())
      }.toOption
    }

  /** JSON-encoded by the mapper (a token may hold `"` or `\`), written to a
    * sibling temp file and moved into place atomically, so a reader never
    * sees a half-written cache. */
  private def saveCache(t: (String, Long)): Unit = cachePath.foreach { p =>
    val node = mapper.createObjectNode()
      .put("access_token", t._1).put("expires_at", t._2)
    val tmp = Files.createTempFile(p.toAbsolutePath.getParent, p.getFileName.toString, ".tmp")
    try {
      Files.write(tmp, mapper.writeValueAsBytes(node))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** S9: memory -> disk -> fresh; refresh when inside the margin. */
  def getToken(forceRefresh: Boolean = false): String = {
    if (!forceRefresh) {
      token.filter(tokenValid).orElse {
        val cached = loadCache().filter(tokenValid)
        cached.foreach(t => token = Some(t))
        cached
      } match {
        case Some(t) => return t._1
        case None => ()
      }
    }
    val (access, expiresIn) = fetchToken()
    val t = (access, clock() + expiresIn)
    token = Some(t)
    saveCache(t)
    t._1
  }

  /** S10/S11: bearer GET; on 401 refresh once and retry. */
  def authedGet(url: String, params: Map[String, String] = Map.empty): String = {
    val (status, body) = transport(url, params, getToken())
    if (status == 401) {
      val (s2, b2) = transport(url, params, getToken(forceRefresh = true))
      require(s2 >= 200 && s2 < 300, s"GET $url failed after refresh: $s2")
      b2
    } else {
      require(status >= 200 && status < 300, s"GET $url failed: $status")
      body
    }
  }

  /** S1: one products page — `GET /api/products/admin/` with the
    * reference's exact parameter surface: `page`, `orderBy`,
    * `orderDirection`, defaulting to name/asc
    * (`scripts/pricenow_etl.py:115-121`). Rows come back through the S5
    * envelope normalizer, ready to land for [[PricenowCatalogSource]].
    */
  def getProducts(page: Int = 0, orderBy: String = "name",
      orderDirection: String = "asc"): Seq[String] = {
    val body = authedGet("/api/products/admin/", Map(
      "page" -> page.toString,
      "orderBy" -> orderBy,
      "orderDirection" -> orderDirection))
    val root = mapper.readTree(body)
    PricenowCatalogSource.extractRows(root).map(_.toString).toSeq
  }

  /** S2: one prices page. */
  def getPricesPage(
      ids: Seq[Long], from: String, to: String,
      page: Int, pageSize: Int): Seq[String] = {
    val body = authedGet("/api/pricing/admin/prices", Map(
      "productDefinitionIds" -> ids.mkString(","),
      "from" -> from, "to" -> to,
      "page" -> page.toString, "pageSize" -> pageSize.toString))
    val root = mapper.readTree(body)
    PricenowCatalogSource.extractRows(root).map(_.toString).toSeq
  }

  /** S3: loop pages until a short or empty page; reaching `maxPages` first
    * throws, since rows may remain (a runaway guard, never a truncation). */
  def getPricesAll(
      ids: Seq[Long], from: String, to: String,
      pageSize: Int = 1000, maxPages: Int = 1000): Seq[String] = {
    val out = Seq.newBuilder[String]
    var page = 0
    var done = false
    while (!done && page < maxPages) {
      val rows = getPricesPage(ids, from, to, page, pageSize)
      out ++= rows
      done = rows.size < pageSize || rows.isEmpty
      page += 1
    }
    if (!done) throw new IllegalStateException(
      s"getPricesAll: hit maxPages = $maxPages before a short or empty page; " +
        "rows may remain and the result would be truncated")
    out.result()
  }
}
