package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HttpFetchers, PaginatedSource, Resilience}

/** Drives the HTTP fetchers against a loopback `com.sun.net.httpserver`
  * mock (JDK built-in — same-process, no network egress): pagination
  * end-to-end through the page loop and JSON parse, 401→refresh→retry
  * through the Resilience decorator, 5xx backoff, and the strict
  * records-shape contract.
  */
class HttpFetchersSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SharedSpark.spark

  private var server: HttpServer = _
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val flakyHits = new AtomicInteger(0)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq).map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name => v }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // 25 items served page-by-page as a top-level JSON array.
    server.createContext("/items", (ex: HttpExchange) => {
      val page = queryParam(ex, "page").get.toInt
      val size = queryParam(ex, "size").get.toInt
      val from = page * size
      val items = (from until math.min(from + size, 25))
        .map(i => s"""{"id": $i, "v": "r$i"}""")
      respond(ex, 200, items.mkString("[", ",", "]"))
    })
    // MISA shape: records nested under "data", bearer-token gated.
    server.createContext("/secure", (ex: HttpExchange) => {
      val tok = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (!tok.contains("Bearer fresh-token")) respond(ex, 401, """{"error":"expired"}""")
      else respond(ex, 200, """{"data":[{"id":1},{"id":2}]}""")
    })
    // Fails twice with 503, then serves — exercises linear backoff.
    server.createContext("/flaky", (ex: HttpExchange) => {
      if (flakyHits.incrementAndGet() <= 2) respond(ex, 503, """{"error":"busy"}""")
      else respond(ex, 200, """[{"ok": true}]""")
    })
    server.start()
  }

  override def afterAll(): Unit = {
    server.stop(0)
    super.afterAll()
  }

  test("paginated HTTP scan end-to-end through fetchPages and jsonFrame") {
    val fetcher = new HttpFetchers.HttpPageFetcher(
      urlFor = (p, s) => s"$base/items?page=$p&size=$s")
    val df = PaginatedSource.jsonFrame(spark,
      PaginatedSource.fetchPages(fetcher, pageSize = 10, maxPages = 10))
    assert(df.count() === 25)
    assert(df.select("id").collect().map(_.getLong(0)).toSet === (0L until 25L).toSet)
  }

  test("401 refreshes the token through Resilience and succeeds; nested records field") {
    var refreshes = 0
    val tokens = new Resilience.TokenProvider {
      @volatile private var t = "stale-token"
      override def token(): String = t
      override def refresh(): Unit = { refreshes += 1; t = "fresh-token" }
    }
    val fetcher = new Resilience.RetryingPageFetcher(
      new HttpFetchers.HttpPageFetcher(
        urlFor = (p, s) => s"$base/secure?page=$p&size=$s",
        auth = Some(tokens), recordsField = Some("data")),
      Resilience.RetryPolicy(attempts = 3, sleep = _ => ()), Some(tokens))
    assert(fetcher.fetchPage(0, 10).size === 2)
    assert(refreshes === 1)
  }

  test("5xx retries with backoff then succeeds") {
    flakyHits.set(0)
    var slept = Seq.empty[Long]
    val fetcher = new Resilience.RetryingPageFetcher(
      new HttpFetchers.HttpPageFetcher(urlFor = (_, _) => s"$base/flaky"),
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 10,
        sleep = ms => slept :+= ms))
    assert(fetcher.fetchPage(0, 10).size === 1)
    assert(slept === Seq(10L, 20L), "linear backoff: base*1 then base*2")
  }

  test("a 200 with a non-array payload fails loudly, never reads as an empty page") {
    intercept[IllegalArgumentException] {
      HttpFetchers.splitRecords("""{"oops": 1}""", None)
    }
    intercept[IllegalArgumentException] {
      HttpFetchers.splitRecords("""{"data": 5}""", Some("data"))
    }
    intercept[IllegalArgumentException] {
      HttpFetchers.splitRecords("""{"data": []}""", Some("missing"))
    }
  }
}
