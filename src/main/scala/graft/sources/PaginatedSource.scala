package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Paginated REST-source parity (SURVEY §2.1 S1–S7): the reference's
  * extractors are cursor/page loops over HTTP endpoints. The engine models
  * them as a pluggable [[PageFetcher]] behind DataFrame-producing scans, so
  * pipelines are testable with fake fetchers and deployable against real
  * endpoints without touching query code.
  *
  * Scale design: a page loop is inherently sequential per endpoint, but
  * TIME-SLICED extraction ([[timeSlicedScan]]) is the distributed shape —
  * one task per slice (the reference's 30-day backfill batching,
  * run_historical_backfill.py:300-313, is exactly this executed serially).
  * Pushdown parity: `maxPages` ≙ LIMIT, the slice window ≙ the
  * create_time-range predicate the reference sends as query params.
  */
object PaginatedSource {

  /** One page of raw records, JSON-encoded. Implementations must be
    * serializable (executors call them in timeSlicedScan). Fetchers of
    * different endpoints may be called concurrently (the atomic ETL cycle
    * stages its endpoints in parallel), so state shared between fetchers
    * must be thread-safe; one fetcher's pages are still requested one at
    * a time, in order.
    */
  trait PageFetcher extends Serializable {
    /** @return JSON documents for this page; empty or short page ends the scan. */
    def fetchPage(page: Int, pageSize: Int): Seq[String]
  }

  /** Fetch a slice of a time-keyed source ([from, to) epoch seconds). */
  trait SliceFetcher extends Serializable {
    def fetchSlice(fromEpochSec: Long, toEpochSec: Long): Seq[String]
  }

  /** S5/S6 full scan: driver-side page loop until empty/short page or
    * maxPages (the reference's pagination contract,
    * misa_crm_extractor.py:201-242), then one distributed JSON parse.
    */
  def fullScan(spark: SparkSession, fetcher: PageFetcher,
      pageSize: Int, maxPages: Int): DataFrame = {
    import spark.implicits._
    // A SHORT page (size < pageSize, the usual REST last-page contract) is
    // included and then terminates the loop — no extra request after it.
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
    val all = buf.result()
    if (all.isEmpty) spark.emptyDataFrame
    else spark.read.json(spark.createDataset(all))
  }

  /** S7 incremental scan: bounded lookback page scan + fail-open
    * modified-date filter (misa_crm_extractor.py:244-285).
    */
  def incrementalScan(spark: SparkSession, fetcher: PageFetcher,
      pageSize: Int, maxPages: Int, tsCol: String,
      cutoff: java.sql.Timestamp): DataFrame = {
    val df = fullScan(spark, fetcher, pageSize, maxPages)
    if (df.columns.contains(tsCol))
      Relational.lookbackFilter(
        df.withColumn(tsCol, col(tsCol).cast("timestamp")), tsCol, lit(cutoff))
    else df
  }

  /** S1–S3 distributed time-sliced extraction: the window is split into
    * `slices` ranges and each executor task fetches one — the partitioned-
    * reader shape of the reference's order search + detail lookup
    * (tiktok_shop_extractor.py:31-212). Slices are the unit of retry and
    * of idempotent re-extraction.
    */
  /** Proportional slice bounds for [from, to): slice i covers
    * [from + span·i/n, from + span·(i+1)/n). A fixed width would overrun
    * `to` (and invert the last slice) whenever slices > span; proportional
    * bounds tile the window exactly, with surplus slices degenerating to
    * empty ranges. BigInt intermediate arithmetic: span·i overflows Long
    * for windows like (0, Long.MaxValue), silently dropping partitions.
    */
  def sliceBounds(from: Long, to: Long, slices: Int): Seq[(Long, Long)] = {
    require(to >= from, s"window [$from, $to) is inverted")
    require(slices > 0, "slices must be positive")
    val span = BigInt(to) - BigInt(from)
    (0 until slices).flatMap { i =>
      val lo = (BigInt(from) + span * i / slices).toLong
      val hi = (BigInt(from) + span * (i + 1) / slices).toLong
      if (hi > lo) Some((lo, hi)) else None
    }
  }

  def timeSlicedScan(spark: SparkSession, fetcher: SliceFetcher,
      fromEpochSec: Long, toEpochSec: Long, slices: Int): DataFrame = {
    import spark.implicits._
    val bounds = sliceBounds(fromEpochSec, toEpochSec, slices)
    val raw: Dataset[String] = spark
      .createDataset(bounds)
      .repartition(math.max(1, bounds.size))
      .flatMap { case (lo, hi) => fetcher.fetchSlice(lo, hi) }
    if (raw.isEmpty) spark.emptyDataFrame else spark.read.json(raw)
  }

  /** S4 recent-window convenience (extract_recent_orders,
    * tiktok_shop_extractor.py:214-227).
    */
  def recentWindow(nowEpochSec: Long, daysBack: Int): (Long, Long) =
    (nowEpochSec - daysBack.toLong * 86400L, nowEpochSec)
}
