package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.PaginatedSource

class SinksAndSourcesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------- sources

  /** Fake endpoint: 25 records served in pages (misa pagination shape). */
  class FakePages(total: Int) extends PaginatedSource.PageFetcher {
    override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
      val from = page * pageSize
      (from until math.min(from + pageSize, total)).map(i =>
        s"""{"id": $i, "modified_date": "2024-01-${10 + i % 20} 00:00:00"}""")
    }
  }

  test("fetchPages paginates until short page; maxPages caps like LIMIT (S5/S6)") {
    val df = PaginatedSource.jsonFrame(spark,
      PaginatedSource.fetchPages(new FakePages(25), pageSize = 10, maxPages = 10))
    assert(df.count() === 25)
    val capped = PaginatedSource.jsonFrame(spark,
      PaginatedSource.fetchPages(new FakePages(25), pageSize = 10, maxPages = 2))
    assert(capped.count() === 20)
  }

  test("lookback over jsonFrame applies the fail-open filter (S7)") {
    val df = PaginatedSource.lookback(
      PaginatedSource.jsonFrame(spark,
        PaginatedSource.fetchPages(new FakePages(25), pageSize = 10, maxPages = 10)),
      tsCol = "modified_date", cutoff = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    // ids with modified 2024-01-(10+i%20) >= 20 → i%20 >= 10
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids === (0 until 25).filter(i => (i % 20) >= 10).map(_.toLong).toSet)
  }

  // -------------------------------------------------- retry / token refresh

  import graft.sources.Resilience

  /** Fake clock: records requested sleeps instead of sleeping. */
  private class FakeClock {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sleep(ms: Long): Unit = slept += ms
  }

  test("retrying fetcher gives up after N attempts with linear backoff") {
    val clock = new FakeClock
    var calls = 0
    val failing = new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
        calls += 1; throw new RuntimeException("connection reset")
      }
    }
    val wrapped = new Resilience.RetryingPageFetcher(failing,
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 100L, sleep = clock.sleep))
    val e = intercept[RuntimeException](wrapped.fetchPage(0, 10))
    assert(e.getMessage === "connection reset")
    assert(calls === 3)              // exactly N tries, then rethrow
    assert(clock.slept.toSeq === Seq(100L, 200L)) // linear: base·1, base·2
  }

  test("401-style auth failure refreshes the token then succeeds") {
    val clock = new FakeClock
    var refreshes = 0
    val tokens = new Resilience.TokenProvider {
      private var current = "stale"
      override def token(): String = current
      override def refresh(): Unit = { refreshes += 1; current = "fresh" }
    }
    val fetcher = new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] =
        if (tokens.token() == "stale")
          throw new Resilience.AuthExpiredException("401")
        else Seq("""{"id": 1}""")
    }
    val wrapped = new Resilience.RetryingPageFetcher(fetcher,
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 100L, sleep = clock.sleep),
      auth = Some(tokens))
    assert(wrapped.fetchPage(0, 10) === Seq("""{"id": 1}"""))
    assert(refreshes === 1)
    assert(clock.slept.toSeq === Seq(100L)) // constant delay after refresh
  }

  test("auth failure that persists after refresh still gives up after N") {
    val clock = new FakeClock
    var refreshes = 0
    val tokens = new Resilience.TokenProvider {
      override def token(): String = "never-works"
      override def refresh(): Unit = refreshes += 1
    }
    val fetcher = new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] =
        throw new Resilience.AuthExpiredException("401")
    }
    val wrapped = new Resilience.RetryingPageFetcher(fetcher,
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 50L, sleep = clock.sleep),
      auth = Some(tokens))
    intercept[Resilience.AuthExpiredException](wrapped.fetchPage(0, 10))
    assert(refreshes === 3) // refresh attempted on every 401, incl. the last
    assert(clock.slept.toSeq === Seq(50L, 50L))
  }
}
