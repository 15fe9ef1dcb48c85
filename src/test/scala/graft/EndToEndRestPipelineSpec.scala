package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Aggregations, TikTokFlatten, Validators}
import graft.pipelines.Pipelines
import graft.sources.{HttpFetchers, ManifestCommit, PaginatedSource, Resilience}

/** SURVEY §7.3's minimum slice as ONE gate, on the path a deployment
  * runs: loopback HTTP server → [[HttpFetchers.HttpPageFetcher]]s doing
  * real HTTP GETs behind [[Resilience.RetryingPageFetcher]] (MISA
  * customer pages behind a bearer token; TikTok order pages whose URL
  * carries the `create_time` window, S1–S4) → the page loop →
  * [[Pipelines.runIncrementalCycleAtomic]] into a manifest root, with the
  * A5 invariants and the A1 load statistics asserted on the committed
  * TikTok table. The server injects one 401, which the token refresh
  * clears, and one 503, which backoff clears. This is the reference's
  * most-executed path (tiktok_shop_orders_etl_dag.py:52-192,
  * production_etl_orchestrator.py) run end to end in-process; the
  * component specs (HttpFetchersSpec/SinksAndSourcesSpec/PipelinesSpec/
  * TikTokFlattenSpec) pin each hop, this spec pins the composition.
  */
class EndToEndRestPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SharedSpark.spark

  private var server: HttpServer = _
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"
  /** Every (create_time_ge, create_time_lt) window the server was asked for. */
  private val windows = new CopyOnWriteArrayList[(Long, Long)]()
  private val unauthorized = new AtomicInteger(0)
  private val unavailable = new AtomicInteger(0)

  // 40 orders at epoch seconds 1000, 1025, ..., 1975: i items each
  // (i % 3 — so some orders are zero-item and keep the explode_outer
  // null row), plus one null-order_id doc inside the queried window
  // (must be rejected by the flatten's pre-load validation).
  private def orderDoc(i: Int, ts: Long, nItems: Int,
      orderId: Option[String]): String = {
    val items = (0 until nItems).map { j =>
      s"""{"product_id":"p$i-$j","product_name":"Prod $j","sku_id":"s$j",""" +
        s""""sku_info":{"sku_image":"img","sku_name":"sku $j","sales_attributes":""" +
        s"""[{"name":"color","value":"red"}]},"quantity":"${j + 1}",""" +
        s""""unit_price":"12.5","currency":"VND","is_gift":false,""" +
        s""""platform_discount":"0.1","seller_discount":"0.2"}"""
    }.mkString("[", ",", "]")
    val oid = orderId.fold("null")(v => s""""$v"""")
    s"""{"order_id":$oid,"order_status":"${if (i % 2 == 0) "PAID" else "UNPAID"}",""" +
      s""""create_time":$ts,"update_time":${ts + 5},""" +
      s""""order_amount":{"currency":"VND","total_amount":"99.9",""" +
      s""""original_shipping_fee":"1.0","original_total_product_price":"90.0",""" +
      s""""seller_discount":"0","shipping_fee":"2.5",""" +
      s""""shipping_fee_platform_discount":"0","shipping_fee_seller_discount":"0",""" +
      s""""subtotal_after_seller_discounts":"95.0","tax_amount":"4.9"},""" +
      s""""recipient_address":{"detail":"12 X St","region_code":"VN","state":"S",""" +
      s""""city":"C","town":"T","district":"D","zipcode":"70000","name":"N $i",""" +
      s""""phone":"+84","phone_number":"090"},"line_items":$items}"""
  }

  private lazy val allOrders: Seq[(Long, String)] = {
    val regular = (0 until 40).map { i =>
      val ts = 1000L + i * 25L
      ts -> orderDoc(i, ts, i % 3, Some(s"ord$i"))
    }
    // The reject case, timestamped inside the window the test queries.
    regular :+ (1510L -> orderDoc(99, 1510L, 1, None))
  }

  private val customerIds = 1 to 12
  private def customerDoc(i: Int): String =
    s"""{"id":$i,"account_name":"c$i","annual_revenue":"${i * 100}",""" +
      s""""modified_date":"2024-06-01 00:00:00","inactive":false}"""

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def param(ex: HttpExchange, name: String): Long =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq).map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name => v.toLong }.get

  /** One page of `records` under `field`, the wrapped-response shape. */
  private def page(ex: HttpExchange, field: String, records: Seq[String]): Unit = {
    val (p, size) = (param(ex, "page").toInt, param(ex, "size").toInt)
    respond(ex, 200, records.slice(p * size, (p + 1) * size)
      .mkString(s"""{"$field":[""", ",", "]}"))
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // MISA shape: records nested under "data", bearer-token gated.
    server.createContext("/customers", (ex: HttpExchange) => {
      if (!Option(ex.getRequestHeaders.getFirst("Authorization")).contains("Bearer fresh")) {
        unauthorized.incrementAndGet()
        respond(ex, 401, """{"error":"token expired"}""")
      } else page(ex, "data", customerIds.map(customerDoc))
    })
    // TikTok order search: the create_time window travels as query
    // params; the first request is shed with a 503.
    server.createContext("/orders", (ex: HttpExchange) => {
      if (unavailable.compareAndSet(0, 1)) respond(ex, 503, """{"error":"busy"}""")
      else {
        val (from, to) = (param(ex, "create_time_ge"), param(ex, "create_time_lt"))
        windows.add((from, to))
        page(ex, "orders",
          allOrders.collect { case (ts, doc) if ts >= from && ts < to => doc })
      }
    })
    server.start()
  }

  override def afterAll(): Unit = {
    server.stop(0)
    super.afterAll()
  }

  test("HTTP -> retrying page fetchers -> atomic cycle -> committed tables") {
    val url = base
    var refreshes = 0
    val tokens = new Resilience.TokenProvider {
      @volatile private var t = "stale"
      override def token(): String = t
      override def refresh(): Unit = { refreshes += 1; t = "fresh" }
    }
    val slept = new ConcurrentLinkedQueue[Long]()
    val policy = Resilience.RetryPolicy(attempts = 3, baseDelayMs = 10L,
      sleep = ms => slept.add(ms))
    val customers = new Resilience.RetryingPageFetcher(
      new HttpFetchers.HttpPageFetcher(
        urlFor = (p, s) => s"$url/customers?page=$p&size=$s",
        auth = Some(tokens), recordsField = Some("data")),
      policy, Some(tokens))
    val (lo, hi) = (1200L, 1800L)
    val orders = new Resilience.RetryingPageFetcher(
      new HttpFetchers.HttpPageFetcher(
        urlFor = (p, s) => s"$url/orders?create_time_ge=$lo&create_time_lt=$hi&page=$p&size=$s",
        recordsField = Some("orders")),
      policy)

    // TikTok's order search is the same page loop the cycle runs for
    // MISA: 25 in-window docs in pages of 10.
    val tiktokDocs = PaginatedSource.fetchPages(orders, pageSize = 10, maxPages = 10)
    val root = Files.createTempDirectory("graft-e2e-rest").toString
    val (report, version) = Pipelines.runIncrementalCycleAtomic(spark,
      Map("misa_customers" -> customers), tiktokDocs, root,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

    // One 401 cleared by one refresh (constant delay), one 503 cleared by
    // backoff (base·1); every order page carried the queried window.
    assert(unauthorized.get === 1)
    assert(refreshes === 1)
    assert(unavailable.get === 1)
    assert(slept.asScala.toSeq === Seq(10L, 10L))
    assert(windows.asScala.toSet === Set((lo, hi)))

    // Expected population: 24 in-window orders (ts 1200..1775), items
    // i % 3; the null-order_id doc is fetched but rejected pre-load.
    val inWindow = (0 until 40).filter(i => { val ts = 1000L + i * 25L; ts >= lo && ts < hi })
    val expOrders = inWindow.size.toLong
    val expItems = inWindow.map(_ % 3).sum.toLong
    val expRows = inWindow.map(i => math.max(i % 3, 1)).sum.toLong
    assert(tiktokDocs.size === inWindow.size + 1)

    // Both tables land in one manifest version.
    assert(version === 1L && ManifestCommit.versions(spark, root) === Seq(1L))
    assert(ManifestCommit.currentManifest(spark, root).get.tables.keySet ===
      Set("misa_customers", "tiktok_shop_orders"))
    assert(report.endpoints === Seq(
      Pipelines.EndpointResult("misa_customers", customerIds.size.toLong, customerIds.size.toLong),
      Pipelines.EndpointResult("tiktok_shop_orders", expRows, expRows)))
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === customerIds.map(_.toLong))

    // A5 invariants on the COMMITTED TikTok table, against the fetched input.
    val landed = ManifestCommit.readTable(spark, root, "tiktok_shop_orders").get
    val validOrders = TikTokFlatten.parseOrders(spark, tiktokDocs)
      .filter(col("order_id").isNotNull)
    val inv = Validators.flattenInvariants(validOrders, "order_id", expItems,
      landed, "order_id", "item_id")
    assert(inv.holds, s"A5 invariants failed: $inv")
    assert(inv.ordersIn === expOrders)
    assert(inv.totalRowsOut === expRows)
    assert(landed.select("order_id").distinct().collect().map(_.getString(0)).toSet ===
      inWindow.map(i => s"ord$i").toSet)

    // A1 load statistics close the loop on the same committed table.
    val stats = Aggregations.loadStats(landed, "order_id", "create_time").head()
    assert(stats.getLong(0) === expRows)
    assert(stats.getLong(1) === expOrders)
    assert(stats.getLong(2) === lo && stats.getLong(3) === 1775L)

    // The ETL stamp (T5) is the cycle's batch id on every row.
    assert(landed.select(col("etl_batch_id")).distinct().collect()
      .map(_.getString(0)).toSeq === Seq(report.batchId))
  }
}
