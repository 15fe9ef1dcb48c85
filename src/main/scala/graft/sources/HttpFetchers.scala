package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import graft.sources.Resilience.{AuthExpiredException, TokenProvider}

/** HTTP transport behind the fetcher contracts — the concrete realization
  * of the reference's requests-based extractors
  * (misa_crm_extractor.py:156-199: GET with bearer auth, page/size query
  * params, records under a response field), built on `java.net.http`
  * (JDK built-in; no added dependency) and Jackson from the Spark
  * classpath for response splitting.
  *
  * Division of labor: these fetchers speak HTTP and translate status codes
  * into the engine's failure vocabulary (401/403 → [[AuthExpiredException]]
  * so [[Resilience]] refreshes the token; other 4xx/5xx → [[HttpError]]
  * so it backs off); retries/backoff themselves stay in
  * `Resilience.RetryingPageFetcher`/`RetryingSliceFetcher` — compose, don't
  * duplicate:
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
  * Scale notes: fetchers serialize into executor tasks
  * (`PaginatedSource.timeSlicedScan` runs one slice per task), so the
  * `HttpClient` is `@transient lazy` — each task builds its own; the URL
  * builder is a plain (serializable) function. Responses stream through
  * Jackson's tree once and out as per-record JSON strings. The page loop
  * holds its records on the driver, so `PaginatedSource.jsonFrame`
  * infers their schema there (Spark's own JSON inference, no job); the
  * slices of `timeSlicedScan` stay on the executors, where a Spark job
  * infers it. The transport stays a thin shim.
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

  /** Shared request/response path for both fetcher shapes. */
  private def get(client: HttpClient, url: String,
      headers: Map[String, String], auth: Option[TokenProvider],
      timeoutMs: Long, recordsField: Option[String]): Seq[String] = {
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

  /** [[PaginatedSource.PageFetcher]] over HTTP GET. `urlFor(page,
    * pageSize)` builds the request URL (query-param pagination is the
    * reference's contract; cursor styles fit by closing over state is NOT
    * supported — cursors are inherently sequential, use the page loop).
    */
  final class HttpPageFetcher(
      urlFor: (Int, Int) => String,
      headers: Map[String, String] = Map.empty,
      auth: Option[TokenProvider] = None,
      timeoutMs: Long = 30000L,
      recordsField: Option[String] = None) extends PaginatedSource.PageFetcher {
    @transient private lazy val client = HttpClient.newHttpClient()
    override def fetchPage(page: Int, pageSize: Int): Seq[String] =
      get(client, urlFor(page, pageSize), headers, auth, timeoutMs, recordsField)
  }

  /** [[PaginatedSource.SliceFetcher]] over HTTP GET — the distributed
    * extraction shape: `timeSlicedScan` runs one slice per executor task,
    * each opening its own client.
    */
  final class HttpSliceFetcher(
      urlFor: (Long, Long) => String,
      headers: Map[String, String] = Map.empty,
      auth: Option[TokenProvider] = None,
      timeoutMs: Long = 30000L,
      recordsField: Option[String] = None) extends PaginatedSource.SliceFetcher {
    @transient private lazy val client = HttpClient.newHttpClient()
    override def fetchSlice(fromEpochSec: Long, toEpochSec: Long): Seq[String] =
      get(client, urlFor(fromEpochSec, toEpochSec), headers, auth, timeoutMs, recordsField)
  }
}
