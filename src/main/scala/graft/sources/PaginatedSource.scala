package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.graftbridge.JsonBridge
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Paginated REST-source parity (SURVEY §2.1 S1–S7): the reference's
  * extractors are sequential page/cursor loops over HTTP endpoints
  * (misa_crm_extractor.py:201-242; tiktok_shop_extractor.py:31-113 pages
  * order ids until `has_more=false`). The engine models every endpoint
  * the same way: a pluggable [[PageFetcher]] drained by one page loop on
  * the driver ([[fetchPages]]), so pipelines are testable with fake
  * fetchers and deployable against real endpoints without touching query
  * code. Pushdown parity: `maxPages` ≙ LIMIT; a time window (the
  * create_time range the reference sends as query params) is part of
  * the fetcher's request.
  */
object PaginatedSource {

  /** One page of raw records, JSON-encoded. Fetchers of different
    * endpoints may be called concurrently (the atomic ETL cycle stages
    * its endpoints in parallel), so state shared between fetchers must be
    * thread-safe; one fetcher's pages are still requested one at a time,
    * in order.
    */
  trait PageFetcher {
    /** @return JSON documents for this page; empty or short page ends the scan. */
    def fetchPage(page: Int, pageSize: Int): Seq[String]
  }

  /** S5/S6 page loop on the driver: pages until an empty or short page or
    * `maxPages` (the reference's pagination contract,
    * misa_crm_extractor.py:201-242). A SHORT page (size < pageSize, the
    * usual REST last-page contract) is included and then terminates the
    * loop — no extra request after it.
    */
  def fetchPages(fetcher: PageFetcher, pageSize: Int, maxPages: Int): Seq[String] = {
    val pages = Iterator.from(0)
      .map(p => fetcher.fetchPage(p, pageSize))
      .take(maxPages)
    val buf = Seq.newBuilder[String]
    var done = false
    while (!done && pages.hasNext) {
      val pg = pages.next()
      buf ++= pg
      done = pg.size < pageSize
    }
    buf.result()
  }

  /** The JSON parse of records already on the driver (the column-less
    * empty frame when there are none). The schema is inferred here, on
    * the driver, with `spark.read.json`'s own inference
    * ([[org.apache.spark.sql.catalyst.graftbridge.JsonBridge]]; payload
    * schemas are open, so it cannot come from the registry), and the
    * parse takes it as given: building the frame starts no Spark job.
    */
  def jsonFrame(spark: SparkSession, records: Seq[String]): DataFrame = {
    import spark.implicits._
    if (records.isEmpty) spark.emptyDataFrame
    else spark.read.schema(JsonBridge.inferSchema(spark, records))
      .json(spark.createDataset(records))
  }

  /** S7 fail-open modified-date filter (misa_crm_extractor.py:244-285):
    * rows at or after `cutoff` or without a timestamp; a frame without
    * the column passes whole.
    */
  def lookback(df: DataFrame, tsCol: String, cutoff: java.sql.Timestamp): DataFrame =
    if (df.columns.contains(tsCol))
      Relational.lookbackFilter(
        df.withColumn(tsCol, col(tsCol).cast("timestamp")), tsCol, lit(cutoff))
    else df
}
