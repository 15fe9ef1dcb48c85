package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Aggregations, EtlMeta, TikTokFlatten, Validators}
import graft.sources.{HttpFetchers, PaginatedSource}

/** SURVEY §7.3's minimum slice as ONE gate instead of four: loopback
  * HTTP server → [[HttpFetchers.HttpSliceFetcher]] doing real HTTP GETs
  * → [[PaginatedSource.timeSlicedScan]] over the queried window, one
  * slice per task → JSON-blob handoff (S9) → [[TikTokFlatten]] → parquet
  * → [[Aggregations.loadStats]], with the A5 invariants asserted on the
  * landed parquet. This is the reference's most-executed path
  * (tiktok_shop_orders_etl_dag.py:52-192) run end to end in-process; the
  * component specs (HttpFetchersSpec/SinksAndSourcesSpec/
  * TikTokFlattenSpec) pin each hop, this spec pins the composition.
  */
class EndToEndRestPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SharedSpark.spark

  private var server: HttpServer = _
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"
  /** Every window the server was asked for. */
  private val windows = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]()

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

  private lazy val allDocs: Seq[(Long, String)] = {
    val regular = (0 until 40).map { i =>
      val ts = 1000L + i * 25L
      ts -> orderDoc(i, ts, i % 3, Some(s"ord$i"))
    }
    // The reject case, timestamped inside the window the test queries.
    regular :+ (1510L -> orderDoc(99, 1510L, 1, None))
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/orders", (ex: HttpExchange) => {
      def param(name: String): Long = Option(ex.getRequestURI.getQuery).toSeq
        .flatMap(_.split("&").toSeq).map(_.split("=", 2))
        .collectFirst { case Array(k, v) if k == name => v.toLong }.get
      val (from, to) = (param("from"), param("to"))
      windows.add((from, to))
      // S9 JSON-blob handoff: each record carries its raw order document
      // as a string, beside the time key the slices are cut on.
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = allDocs.collect { case (ts, doc) if ts >= from && ts < to =>
        s"""{"create_time":$ts,"order_json":${mapper.writeValueAsString(doc)}}"""
      }.mkString("[", ",", "]")
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
  }

  override def afterAll(): Unit = {
    server.stop(0)
    super.afterAll()
  }

  test("HTTP -> timeSlicedScan -> flatten -> loadStats") {
    val (lo, hi) = (1200L, 1800L)
    val url = base
    val fetcher = new HttpFetchers.HttpSliceFetcher(
      urlFor = (from, to) => s"$url/orders?from=$from&to=$to")
    val raw = PaginatedSource.timeSlicedScan(spark, fetcher, lo, hi, slices = 3)

    // S9 JSON-blob handoff: the raw docs parse against the pinned input
    // schema, then the flagship flatten runs exactly as in the batch path.
    val orders = raw
      .select(from_json(col("order_json"), TikTokFlatten.inputSchema).as("o"))
      .select(col("o.*"))
    val flat = TikTokFlatten.flatten(orders, EtlMeta.Batch("e2e-batch-1", "tiktok_shop"))

    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-rest").toString + "/orders"
    flat.write.parquet(dir)
    val landed = spark.read.parquet(dir)

    // The window went out as its slices, each requested once: the scan
    // checkpoints the fetched records, so inference and parse refetch
    // nothing.
    import scala.jdk.CollectionConverters._
    assert(windows.asScala.toSeq.sorted === PaginatedSource.sliceBounds(lo, hi, 3))

    // Expected population: 24 in-window orders (ts 1200..1775), items
    // i % 3; the null-order_id doc is fetched but rejected pre-load.
    val inWindow = (0 until 40).filter(i => { val ts = 1000L + i * 25L; ts >= lo && ts < hi })
    val expOrders = inWindow.size.toLong
    val expItems = inWindow.map(_ % 3).sum.toLong
    val expRows = inWindow.map(i => math.max(i % 3, 1)).sum.toLong

    // A5 invariants on the LANDED parquet, against the in-window input.
    val validOrders = orders.filter(col("order_id").isNotNull)
    val inv = Validators.flattenInvariants(validOrders, "order_id", expItems,
      landed, "order_id", "item_id")
    assert(inv.holds, s"A5 invariants failed: $inv")
    assert(inv.ordersIn === expOrders)
    assert(inv.totalRowsOut === expRows)

    // A1 load statistics close the loop on the same landed frame.
    val stats = Aggregations.loadStats(landed, "order_id", "create_time").head()
    assert(stats.getLong(0) === expRows)
    assert(stats.getLong(1) === expOrders)
    assert(stats.getLong(2) >= lo && stats.getLong(3) < hi)

    // The ETL stamp (T5) landed batch-constant.
    assert(landed.select(col("etl_batch_id")).distinct().collect()
      .map(_.getString(0)).toSeq === Seq("e2e-batch-1"))
  }
}
