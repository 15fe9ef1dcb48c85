package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipelines.Pipelines
import graft.sources.{ManifestCommit, PaginatedSource}
import graft.streaming.CurationStream

final case class Check(name: String, ok: Boolean, detail: String)

/** One workload: set-up on a fresh root, operations timed one at a time
  * (closed loop, one client), then untimed correctness checks.
  */
trait Workload {
  /** Module of an execution the benchmark called itself in the operation
    * labelled `label`.
    */
  def selfModule(label: String): String
  /** Called with the layer of each step inside an operation that has
    * several (a query of a pass); a traced run moves its own layer there.
    */
  var enterStep: String => Unit = _ => ()
  /** Set-up repetition `rep`: a fresh root with freshly generated inputs. */
  def setup(rep: Int): Unit
  /** Untimed warm-up after set-up, for code paths set-up does not reach. */
  def warm(): Unit = ()
  /** Untimed preparation of operation `i`; returns its label and the timed
    * part, which returns the number of work items the operation completed.
    */
  def prepare(i: Int): (String, () => Long)
  def checks(): Seq[Check]
  /** Workload-side layer numbers, measured after the run. */
  def stats(): Map[String, Double]
}

/** Page fetcher owned by the benchmark: serves one ETL window and counts
  * the pages, records and time the pipeline spends fetching.
  */
final class CountingFetcher(records: IndexedSeq[String]) extends PaginatedSource.PageFetcher {
  override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
    val t0 = System.nanoTime()
    val out = records.slice(page * pageSize, (page + 1) * pageSize)
    Fetch.nanos.addAndGet(System.nanoTime() - t0)
    Fetch.pages.incrementAndGet()
    Fetch.records.addAndGet(out.size.toLong)
    out
  }
}

object Fetch {
  val nanos = new AtomicLong()
  val pages = new AtomicLong()
  val records = new AtomicLong()
  def snapshot(): (Long, Long, Long) = (nanos.get(), pages.get(), records.get())
}

object Workloads {

  def storage(spark: SparkSession, root: String): Map[String, Double] = {
    val files = Option(new java.io.File(root)).toSeq.flatMap(walk)
      .filterNot(_.getName.endsWith(".crc"))
    val m = ManifestCommit.currentManifest(spark, root)
    Map("manifest.versions" -> ManifestCommit.versions(spark, root).size.toDouble,
      "manifest.deltas" -> m.map(_.tables.values.map(_.size).sum).getOrElse(0).toDouble,
      "manifest.files" -> files.size.toDouble,
      "manifest.bytes" -> files.map(_.length).sum.toDouble)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  def check(name: String, ok: Boolean, detail: => String): Check =
    Check(name, ok, if (ok) "" else detail)
}

/** `etl_cycles`: consecutive atomic incremental cycles into one manifest
  * root, each fed a fresh seeded window of all five MISA endpoints plus
  * TikTok orders.
  */
final class EtlCycles(spark: SparkSession, seed: Long, work: String) extends Workload {
  import Workloads._
  val shape = Gen.EtlShape()
  private val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private var root = ""
  private var cycle = 0
  private val reports = mutable.ArrayBuffer[(Pipelines.CycleReport, Long)]()

  def selfModule(label: String): String = "pipelines.Pipelines"

  def setup(rep: Int): Unit = {
    root = s"$work/etl-$rep"
    cycle = 0
    reports.clear()
    prepare(0)._2()
  }

  def prepare(i: Int): (String, () => Long) = {
    val w = Gen.etlWindow(seed, cycle)
    val fetchers = w.pages.map { case (ep, recs) =>
      ep -> (new CountingFetcher(recs.toIndexedSeq): PaginatedSource.PageFetcher) }
    (s"cycle $cycle", () => {
      val r = Pipelines.runIncrementalCycleAtomic(spark, fetchers, w.tiktok, root, cutoff)
      reports += r
      cycle += 1
      r._1.endpoints.map(_.appended).sum
    })
  }

  /** Expected committed state after `cycles` windows: rows, distinct keys
    * and nulls in the malformed column, per table.
    */
  private def expected(cycles: Int): Map[String, (Long, Long)] = {
    val windows = (0 until cycles).map(Gen.etlWindow(seed, _))
    val key = raw"""^\{"(?:id|stock_code)":"?([^",]+)"?,""".r.unanchored
    val misa = Gen.Endpoints.map { ep =>
      val keys = windows.flatMap(_.pages(ep)).map { case key(k) => k }.distinct
      val rows =
        if (ep == "misa_sale_orders_flattened") keys.map(k => Gen.saleOrderItems(k.toLong).toLong).sum
        else keys.size.toLong
      ep -> (rows, cycles.toLong * shape.malformed)
    }
    val order = raw""""order_id":"([^"]+)"""".r.unanchored
    val tiktokRows = windows.map(_.tiktok.map { case order(o) => o }.distinct.size.toLong *
      shape.tiktokItems).sum
    (misa :+ ("tiktok_shop_orders" ->
      (tiktokRows, cycles.toLong * (shape.malformed / 2) * shape.tiktokItems))).toMap
  }

  def checks(): Seq[Check] = {
    val exp = expected(cycle)
    val tables = exp.toSeq.sortBy(_._1).flatMap { case (t, (rows, nulls)) =>
      val spec = graft.core.SchemaRegistry.byName(t)
      ManifestCommit.readTable(spark, root, t) match {
        case None => Seq(check(s"$t committed", ok = false, "table missing"))
        case Some(df) =>
          val got = df.agg(count(lit(1)), countDistinct(spec.keys.map(col).head,
            spec.keys.tail.map(col): _*), sum(when(col(Gen.MalformedColumn(t)).isNull, 1)
            .otherwise(0))).head()
          Seq(
            check(s"$t rows", got.getLong(0) == rows, s"committed ${got.getLong(0)}, expected $rows"),
            check(s"$t keys unique", got.getLong(1) == got.getLong(0),
              s"${got.getLong(1)} distinct keys for ${got.getLong(0)} rows"),
            check(s"$t rejected casts", got.getLong(2) == nulls,
              s"${got.getLong(2)} nulls in ${Gen.MalformedColumn(t)}, expected $nulls"))
      }
    }
    val versions = ManifestCommit.versions(spark, root).size
    tables ++ Seq(
      check("manifest versions = cycles", versions == cycle, s"$versions versions, $cycle cycles"),
      check("quality gate passed", reports.forall(_._1.qualityPassed),
        s"${reports.count(!_._1.qualityPassed)} cycles failed the gate"))
  }

  def stats(): Map[String, Double] = {
    val delivered = reports.map(_._1.endpoints.map(_.rows).sum).sum.toDouble
    val staged = reports.map(_._1.endpoints.map(_.appended).sum).sum.toDouble
    storage(spark, root) ++ Map(
      "stored_bytes_per_row" -> storage(spark, root)("manifest.bytes") / staged.max(1.0),
      "etl.redelivery_drop_ratio" -> (if (delivered > 0) 1.0 - staged / delivered else 0.0),
      "etl.staged_rows" -> staged)
  }
}

/** `curation_stream`: seeded micro-batches through `curateBatch` into one
  * root; later batches carry lightly edited copies of earlier documents.
  */
final class CurationStreamW(spark: SparkSession, seed: Long, work: String) extends Workload {
  import Workloads._
  val shape = Gen.CurationShape()
  /** Sketch compaction every 4 commits instead of 16, so that every run
    * includes compaction commits.
    */
  val HllCompactEvery = 4
  private var root = ""
  private var batch = 0
  private var last: DataFrame = _
  private val reports = mutable.ArrayBuffer[CurationStream.BatchReport]()

  def selfModule(label: String): String = "streaming.CurationStream"

  def frame(b: Int): DataFrame = {
    import spark.implicits._
    Gen.curationBatch(seed, b, shape).map(d => (d.docId, d.text, d.nChars))
      .toDF("doc_id", "text", "n_chars")
  }

  def setup(rep: Int): Unit = {
    root = s"$work/curation-$rep"
    batch = 0
    reports.clear()
    prepare(0)._2()
  }

  /** The first batch on a root skips the corpus gate; warm that path with
    * one batch before timing.
    */
  override def warm(): Unit = prepare(0)._2()

  def prepare(i: Int): (String, () => Long) = {
    val df = frame(batch)
    (s"batch $batch", () => {
      val r = CurationStream.curateBatch(df, root, hllCompactEvery = HllCompactEvery)
      reports += r
      last = df
      batch += 1
      r.received
    })
  }

  def checks(): Seq[Check] = {
    val chain = reports.zipWithIndex.flatMap { case (r, i) =>
      val telescopes = r.received >= r.gatedQuality && r.inBatchDups >= 0 &&
        r.corpusNearDups >= 0 && r.accepted >= 0 &&
        r.gatedQuality - r.mediaRejected - r.inBatchDups - r.corpusNearDups == r.accepted
      Seq(check(s"batch $i stage chain telescopes", telescopes, r.toString),
        check(s"batch $i length gate", r.received - r.gatedQuality == shape.short,
          s"${r.received - r.gatedQuality} gated, ${shape.short} planted"))
    }
    val docs = ManifestCommit.readTable(spark, root, CurationStream.AcceptedTable).get
      .agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    val replay = CurationStream.curateBatch(last, root, hllCompactEvery = HllCompactEvery)
    chain.toSeq ++ Seq(
      check("no doc_id committed twice", docs.getLong(0) == docs.getLong(1),
        s"${docs.getLong(0)} rows, ${docs.getLong(1)} distinct doc_ids"),
      check("committed = sum of accepted", docs.getLong(0) == reports.map(_.accepted).sum,
        s"${docs.getLong(0)} committed, ${reports.map(_.accepted).sum} accepted"),
      check("in-batch gate rejected planted copies", reports.map(_.inBatchDups).sum > 0, "none"),
      check("corpus gate rejected planted copies", reports.drop(1).map(_.corpusNearDups).sum > 0, "none"),
      check("replaying the last batch accepts 0 rows", replay.accepted == 0,
        s"replay accepted ${replay.accepted}"))
  }

  def stats(): Map[String, Double] = {
    val st = storage(spark, root)
    val received = reports.map(_.received).sum.toDouble
    st ++ Map(
      "stored_bytes_per_row" -> st("manifest.bytes") / reports.map(_.accepted).sum.toDouble.max(1.0),
      "curation.accept_ratio" -> reports.map(_.accepted).sum / received.max(1.0))
  }
}

/** `reference_queries` / `corpus_queries`: one operation is a pass of the
  * declared queries, each forced through the noop sink as `Bench` does,
  * cache cleared after each, in an order shuffled by the seed. A pass sums
  * the queries, so its time does not hinge on which query is the median.
  */
final class QuerySuite(spark: SparkSession, seed: Long, work: String,
    val queries: Seq[String], val shape: Gen.TableShape, val tables: Set[String],
    fingerprints: Map[String, (Long, Long)], record: Option[java.io.File]) extends Workload {
  import Workloads._
  private var dir = ""
  private val order = Gen.shuffle(new java.util.SplittableRandom(seed), queries).toIndexedSeq
  private val results = mutable.Map[String, (Long, Long)]()
  /** Timed seconds of each query, one entry per pass. */
  val queryTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def selfModule(label: String): String = Main.QueryLayer.getOrElse(label, "queries")

  def setup(rep: Int): Unit = {
    dir = s"$work/tables-$rep"
    Gen.writeTables(spark, dir, shape, only = tables)
  }

  /** Untimed: run every query once, collecting its rows for the
    * fingerprint. Also warms code generation before the timed passes. The
    * queries run side by side: a cold query spends much of its time in
    * single-threaded planning and code generation, so this keeps the cores
    * busy and the run short.
    */
  override def warm(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(order.size)
    try {
      val rows = order.map(q => q -> pool.submit(() => SparkEntry.queries(q)(spark, dir).collect()))
      rows.foreach { case (q, f) => results(q) = Fingerprint.of(f.get()) }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
    spark.catalog.clearCache()
  }

  def prepare(i: Int): (String, () => Long) =
    (s"pass $i", () => {
      order.foreach { q =>
        enterStep(selfModule(q))
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        queryTimes.getOrElseUpdate(q, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
      }
      order.size.toLong
    })

  /** Median time of each query over the passes. */
  def perQuery: Map[String, Double] = queryTimes.map { case (q, ts) => q -> Stats.median(ts.toSeq) }.toMap

  def checks(): Seq[Check] = {
    record.foreach { f =>
      val merged = fingerprints ++ results
      val w = new java.io.PrintWriter(f, "UTF-8")
      try merged.toSeq.sortBy(_._1).foreach { case (q, (n, h)) => w.println(s"$q\t$n\t$h") }
      finally w.close()
    }
    queries.map { q =>
      val got = results.get(q)
      val want = fingerprints.get(q)
      check(s"$q fingerprint", got.isDefined && (record.isDefined || got == want),
        s"got ${got.getOrElse("nothing")}, stored ${want.getOrElse("nothing")}")
    }
  }

  def stats(): Map[String, Double] = Map.empty
}

/** Row count plus an order-independent hash of a query result. Doubles are
  * rounded to 9 significant digits, so summation order cannot move it.
  */
object Fingerprint {
  def of(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r => scala.util.hashing.MurmurHash3.stringHash(
      r.toSeq.map(value).mkString("\u0001")).toLong & 0xffffffffL).sum)

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else f"$d%.9g"
    case f: Float => if (f == 0.0f) "0" else f"${f.toDouble}%.6g"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.mkString(",")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }
      .sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case x => x.toString
  }

  def load(f: java.io.File): Map[String, (Long, Long)] =
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split("\t")).map(a =>
        a(0) -> (a(1).toLong, a(2).toLong)).toMap
      finally src.close()
    }
}
