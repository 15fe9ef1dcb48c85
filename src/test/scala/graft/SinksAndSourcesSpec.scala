package graft

import org.apache.spark.sql.functions._
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

  test("fullScan paginates until short page; maxPages caps like LIMIT (S5/S6)") {
    val df = PaginatedSource.jsonFrame(spark,
      PaginatedSource.fetchPages(new FakePages(25), pageSize = 10, maxPages = 10))
    assert(df.count() === 25)
    val capped = PaginatedSource.jsonFrame(spark,
      PaginatedSource.fetchPages(new FakePages(25), pageSize = 10, maxPages = 2))
    assert(capped.count() === 20)
  }

  test("incrementalScan applies the fail-open lookback filter (S7)") {
    val df = PaginatedSource.lookback(
      PaginatedSource.jsonFrame(spark,
        PaginatedSource.fetchPages(new FakePages(25), pageSize = 10, maxPages = 10)),
      tsCol = "modified_date", cutoff = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    // ids with modified 2024-01-(10+i%20) >= 20 → i%20 >= 10
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids === (0 until 25).filter(i => (i % 20) >= 10).map(_.toLong).toSet)
  }

  test("timeSlicedScan distributes slices across tasks (S1-S3 shape)") {
    val fetcher = new PaginatedSource.SliceFetcher {
      override def fetchSlice(from: Long, to: Long): Seq[String] =
        (from until to).map(t => s"""{"create_time": $t}""")
    }
    val df = PaginatedSource.timeSlicedScan(spark, fetcher, 1000L, 1040L, slices = 8)
    assert(df.count() === 40)
    assert(df.agg(min(col("create_time")), max(col("create_time")))
      .head().toSeq === Seq(1000L, 1039L))
  }

  test("timeSlicedScan requests each slice once (probe, inference and parse share one fetch)") {
    val calls = spark.sparkContext.collectionAccumulator[(Long, Long)]("slice requests")
    val fetcher = new PaginatedSource.SliceFetcher {
      override def fetchSlice(from: Long, to: Long): Seq[String] = {
        calls.add((from, to))
        (from until to).map(t => s"""{"create_time": $t}""")
      }
    }
    val df = PaginatedSource.timeSlicedScan(spark, fetcher, 3000L, 3012L, slices = 4)
    assert(df.count() === 12)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (3000L until 3012L))
    import scala.jdk.CollectionConverters._
    assert(calls.value.asScala.toSeq.sorted === PaginatedSource.sliceBounds(3000L, 3012L, 4))
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
    val fetcher = new PaginatedSource.SliceFetcher {
      override def fetchSlice(from: Long, to: Long): Seq[String] =
        throw new Resilience.AuthExpiredException("401")
    }
    val wrapped = new Resilience.RetryingSliceFetcher(fetcher,
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 50L, sleep = clock.sleep),
      auth = Some(tokens))
    intercept[Resilience.AuthExpiredException](wrapped.fetchSlice(0L, 10L))
    assert(refreshes === 3) // refresh attempted on every 401, incl. the last
    assert(clock.slept.toSeq === Seq(50L, 50L))
  }

  test("retrying slice fetcher works end-to-end through timeSlicedScan") {
    // Flaky-once-per-slice fetcher: first call for each slice fails, the
    // retry succeeds — the scan must still produce every row exactly once.
    val inner = new PaginatedSource.SliceFetcher {
      // Executor-side state: per-task (local[32] shares the JVM but the
      // map is keyed per slice, so each slice fails exactly once).
      @transient private lazy val seen =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      override def fetchSlice(from: Long, to: Long): Seq[String] = {
        if (seen.add(from)) throw new RuntimeException(s"flake at $from")
        (from until to).map(t => s"""{"create_time": $t}""")
      }
    }
    val wrapped = new Resilience.RetryingSliceFetcher(inner,
      Resilience.RetryPolicy(attempts = 2, baseDelayMs = 0L, sleep = _ => ()))
    val df = PaginatedSource.timeSlicedScan(spark, wrapped, 2000L, 2020L, slices = 4)
    assert(df.count() === 20)
  }
}
