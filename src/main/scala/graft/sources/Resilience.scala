package graft.sources

import PaginatedSource.PageFetcher

/** Retry + token-refresh resilience around the page-fetcher contract — the
  * connector behavior of the reference's extractors
  * (misa_crm_extractor.py:123-154: N attempts, linear backoff on errors,
  * 401 → force token refresh + constant delay + retry; auth.py:67-112:
  * refreshable bearer token), re-expressed transport-agnostically: the
  * engine never speaks HTTP itself, so the signals are exceptions thrown
  * by the fetcher implementation. A retry re-calls the remote page on the
  * driver's page loop, the granularity the reference retries at.
  */
object Resilience {

  /** Thrown by a fetcher on an expired-credential response (the 401
    * signal). Distinguished from other failures because the remedy is a
    * token refresh, not backoff alone.
    */
  final class AuthExpiredException(msg: String) extends RuntimeException(msg)

  /** Refreshable credential source (auth.py:67-112). `refresh()` must
    * force a new token even if the cached one looks unexpired — the
    * server's 401 outranks the client's expiry bookkeeping.
    */
  trait TokenProvider {
    def token(): String
    def refresh(): Unit
  }

  /** Retry envelope. `sleep` is injectable so tests run on a fake clock.
    *
    * @param attempts     total tries, including the first (reference
    *                     default api_retry_attempts = 3)
    * @param baseDelayMs  backoff unit: plain failures wait
    *                     baseDelayMs·attempt (linear, like the
    *                     reference's delay·(attempt+1)); auth failures
    *                     wait a constant baseDelayMs after the refresh
    */
  final case class RetryPolicy(
      attempts: Int = 3,
      baseDelayMs: Long = 1000L,
      sleep: Long => Unit = Thread.sleep) {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
  }

  /** Run `body` under the policy. AuthExpiredException triggers
    * `onAuthExpired` (token refresh) then a constant delay; any other
    * exception backs off linearly. Exhausting the attempts rethrows the
    * last failure — extraction must fail loudly, not silently truncate
    * the corpus.
    */
  def retry[A](policy: RetryPolicy, onAuthExpired: () => Unit = () => ())(
      body: => A): A = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: AuthExpiredException =>
          onAuthExpired()
          if (attempt >= policy.attempts) throw e
          policy.sleep(policy.baseDelayMs)
        case scala.util.control.NonFatal(e) =>
          if (attempt >= policy.attempts) throw e
          policy.sleep(policy.baseDelayMs * attempt)
      }
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[PageFetcher]] decorator: each page fetch is independently retried
    * (the reference retries per request, not per scan).
    */
  final class RetryingPageFetcher(inner: PageFetcher, policy: RetryPolicy,
      auth: Option[TokenProvider] = None) extends PageFetcher {
    override def fetchPage(page: Int, pageSize: Int): Seq[String] =
      retry(policy, () => auth.foreach(_.refresh()))(
        inner.fetchPage(page, pageSize))
  }
}
