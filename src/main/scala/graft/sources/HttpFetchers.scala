package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import graft.sources.Resilience.{AuthExpiredException, TokenProvider}

/** HTTP transport behind the page-fetcher contract — the concrete
  * realization of the reference's requests-based extractors
  * (misa_crm_extractor.py:156-199: GET with bearer auth, page/size query
  * params, records under a response field), built on `java.net.http`
  * (JDK built-in; no added dependency) and Jackson from the Spark
  * classpath for response splitting.
  *
  * Division of labor: the fetcher speaks HTTP and translates status codes
  * into the engine's failure vocabulary (401/403 → [[AuthExpiredException]]
  * so [[Resilience]] refreshes the token; other 4xx/5xx → [[HttpError]]
  * so it backs off); retries/backoff themselves stay in
  * `Resilience.RetryingPageFetcher` — compose, don't duplicate:
  *
  * {{{
  * val fetcher = new Resilience.RetryingPageFetcher(
  *   new HttpFetchers.HttpPageFetcher(
  *     urlFor = (p, s) => s"$base/customers?page=$p&size=$s", auth = Some(tokens)),
  *   Resilience.RetryPolicy(), Some(tokens))
  * Pipelines.runIncrementalCycleAtomic(spark, Map("misa_customers" -> fetcher),
  *   tiktokDocs = Seq.empty, root, cutoff)
  * }}}
  *
  * The page loop runs on the driver, so a fetcher and its client live
  * there; responses stream through Jackson's tree once and out as
  * per-record JSON strings, whose schema `PaginatedSource.jsonFrame`
  * infers on the driver. The transport stays a thin shim.
  */
object HttpFetchers {

  /** Non-auth HTTP failure; carries the status so retry/backoff policy and
    * logs can distinguish 429/5xx from logic errors.
    */
  final class HttpError(val status: Int, msg: String)
    extends RuntimeException(s"HTTP $status: $msg")

  /** Split a JSON response into per-record JSON documents: the records are
    * the top-level array, or the array under `recordsField` when the
    * endpoint wraps them (the reference's MISA responses nest records in a
    * data field). A missing/non-array records node fails loudly — an
    * "unexpected but 200" payload must not read as an empty page and
    * silently end a scan.
    */
  private[graft] def splitRecords(body: String,
      recordsField: Option[String]): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(body)
    val node = recordsField.fold(root) { f =>
      val n = root.get(f)
      require(n != null, s"response has no '$f' field")
      n
    }
    require(node.isArray, "expected a JSON array of records")
    (0 until node.size).map(i => node.get(i).toString)
  }

  /** [[PaginatedSource.PageFetcher]] over HTTP GET. `urlFor(page,
    * pageSize)` builds the request URL (query-param pagination is the
    * reference's contract). Pages are requested in order, one at a time,
    * so a `urlFor` may carry the cursor the previous response returned:
    * that is how a cursor contract such as S1's `page_token` maps.
    */
  final class HttpPageFetcher(
      urlFor: (Int, Int) => String,
      headers: Map[String, String] = Map.empty,
      auth: Option[TokenProvider] = None,
      timeoutMs: Long = 30000L,
      recordsField: Option[String] = None) extends PaginatedSource.PageFetcher {
    private val client = HttpClient.newHttpClient()
    override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
      val url = urlFor(page, pageSize)
      val b = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(timeoutMs)).GET()
      headers.foreach { case (k, v) => b.header(k, v) }
      // Token read per REQUEST, not per fetcher: a refresh between retries
      // must be visible to the next attempt.
      auth.foreach(a => b.header("Authorization", s"Bearer ${a.token()}"))
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      resp.statusCode() match {
        case 401 | 403 =>
          throw new AuthExpiredException(s"HTTP ${resp.statusCode()} for $url")
        case s if s >= 400 => throw new HttpError(s, url)
        case _ => splitRecords(resp.body(), recordsField)
      }
    }
  }
}
