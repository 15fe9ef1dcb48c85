package graft.pipelines

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import scala.util.{Failure, Try}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SchemaRegistry, SafeCasts}
import graft.operators.{Aggregations, EtlMeta, Flatten, TikTokFlatten, Validators}
import graft.sources.{ManifestCommit, PaginatedSource, Sinks}

/** The reference's three pipeline lifecycles (SURVEY §3) as composable,
  * testable functions. Sources are pluggable [[PaginatedSource.PageFetcher]]s
  * and the sink substrate is a staging directory — the same code drives a
  * fake-fetcher test and a production REST deployment.
  *
  * Execution shape vs the reference: each endpoint is ONE lazy Spark job
  * (scan → transform → write); the XCom/temp-parquet hops of the Airflow
  * DAGs (§3.1) disappear into the plan. Endpoints are reported in the
  * reference's priority order (sale_orders first —
  * production_etl_orchestrator.py:137-145). They are independent jobs:
  * [[runIncrementalCycleAtomic]] stages them concurrently and commits
  * them together from the calling thread.
  */
object Pipelines {

  final case class EndpointResult(endpoint: String, rows: Long, appended: Long)

  final case class CycleReport(
      endpoints: Seq[EndpointResult],
      qualityPassed: Boolean,
      batchId: String)

  /** MISA endpoint processing order (P1 = sale_orders,
    * production_etl_orchestrator.py:137-145).
    */
  val endpointPriority: Seq[String] = Seq(
    "misa_sale_orders_flattened", "misa_customers", "misa_contacts",
    "misa_stocks", "misa_products")

  /** Scan + shape one endpoint micro-batch WITHOUT sinking it:
    * incremental scan → (flatten if sale orders) → registry casts →
    * lineage stamp. Returns None on an empty window. Shared by the
    * per-table-append and manifest-transactional cycle variants.
    */
  def shapeEndpoint(spark: SparkSession, endpoint: String,
      fetcher: PaginatedSource.PageFetcher, cutoff: java.sql.Timestamp,
      batch: EtlMeta.Batch, pageSize: Int = 100,
      maxPages: Int = 2): Option[DataFrame] = {
    val spec = SchemaRegistry.byName(endpoint)
    val raw = PaginatedSource.incrementalScan(
      spark, fetcher, pageSize, maxPages, "modified_date", cutoff)
    if (raw.isEmpty) return None
    // Spec-driven flatten: prefixFlatten maps top-level `id` → `order_id`
    // and mapping `id` → `item_id`, which is exactly the registry's
    // (order_id, item_id) key.
    val shaped = spec.nestedItemsColumn match {
      case Some(nested) if raw.columns.contains(nested) =>
        Flatten.prefixFlatten(raw, nested)
      case _ => raw
    }
    val normalized = EtlMeta.stamp(SchemaRegistry.normalize(shaped, spec), batch)
    // Refuse to load when the registry's PK columns are missing: deduping
    // on an arbitrary fallback column would silently collapse distinct
    // rows — a malformed payload must fail loudly, not lose data.
    val missing = spec.keys.filterNot(normalized.columns.contains)
    require(missing.isEmpty,
      s"endpoint $endpoint payload is missing key column(s) ${missing.mkString(",")}; " +
        s"present: ${normalized.columns.mkString(",")}")
    Some(normalized)
  }

  /** One endpoint micro-batch: [[shapeEndpoint]] → L4 dedup-append.
    * Mirrors §3.2 PHASE 1 per-endpoint flow.
    */
  def processEndpoint(spark: SparkSession, endpoint: String,
      fetcher: PaginatedSource.PageFetcher, stagingRoot: String,
      cutoff: java.sql.Timestamp, batch: EtlMeta.Batch,
      pageSize: Int = 100, maxPages: Int = 2): EndpointResult =
    shapeEndpoint(spark, endpoint, fetcher, cutoff, batch, pageSize, maxPages)
      .map { normalized =>
        val spec = SchemaRegistry.byName(endpoint)
        val appended = Sinks.dedupAppend(
          spark, normalized, s"$stagingRoot/${spec.name}", spec.keys)
        EndpointResult(endpoint, normalized.count(), appended.rows)
      }
      .getOrElse(EndpointResult(endpoint, 0L, 0L))

  /** §3.2 `facolos_incremental_etl_production`: PHASE 1 MISA endpoints in
    * priority order, PHASE 2 TikTok recent-window flatten+load, then the
    * A3 quality gate over the staging tables.
    */
  def runIncrementalCycle(spark: SparkSession,
      misaFetchers: Map[String, PaginatedSource.PageFetcher],
      tiktokDocs: Seq[String],
      stagingRoot: String,
      cutoff: java.sql.Timestamp): CycleReport = {
    // A fetcher keyed by an unknown endpoint would be silently skipped —
    // a misspelled name must fail loudly, not drop the endpoint.
    val unknown = misaFetchers.keySet -- endpointPriority.toSet
    require(unknown.isEmpty,
      s"unknown endpoint(s) ${unknown.mkString(",")}; known: ${endpointPriority.mkString(",")}")
    val batch = EtlMeta.newBatch("incremental_cycle")

    val misaResults = endpointPriority.flatMap { ep =>
      misaFetchers.get(ep).map(f =>
        processEndpoint(spark, ep, f, stagingRoot, cutoff, batch))
    }

    val tiktokResult = {
      val flat = TikTokFlatten.flatten(
        TikTokFlatten.parseOrders(spark, tiktokDocs), batch)
      val appended = Sinks.dedupAppend(spark, flat,
        s"$stagingRoot/${SchemaRegistry.tiktokOrders.name}",
        SchemaRegistry.tiktokOrders.keys)
      EndpointResult(SchemaRegistry.tiktokOrders.name, flat.count(), appended.rows)
    }

    val results = misaResults :+ tiktokResult
    // A table whose path was never created (zero rows ever appended)
    // counts as empty, not as a crash.
    val passed = qualityGate(results) { t =>
      val path = s"$stagingRoot/$t"
      Sinks.targetExists(spark, path) && !spark.read.parquet(path).isEmpty
    }
    CycleReport(results, passed, batch.batchId)
  }

  /** A3 quality gate (orchestrator:307-312), the reference's 5-of-6 rule:
    * at most one table may be empty after the cycle. A table that
    * appended rows this cycle is non-empty by construction; only the
    * others are probed with `nonEmpty` (a limit-1 read of the table).
    */
  private def qualityGate(results: Seq[EndpointResult])(
      nonEmpty: String => Boolean): Boolean =
    results.count(r => r.appended > 0 || nonEmpty(r.endpoint)) >= results.size - 1

  /** [[runIncrementalCycle]] with CROSS-TABLE atomicity: every endpoint's
    * fresh rows are staged as invisible [[ManifestCommit]] deltas, then
    * ONE manifest rename publishes the whole cycle — the parquet
    * equivalent of the reference's per-cycle SQL Server transaction
    * (run_historical_backfill.py:86-183). A crash or failed endpoint
    * anywhere before the commit leaves every table at the previous
    * version: a torn cycle is invisible to readers, and its orphaned
    * delta dirs are reclaimed by the next [[ManifestCommit.vacuum]].
    *
    * Dedup is the same L4 semantics as the append path, anti-joined
    * against the COMMITTED manifest view (uncommitted deltas can never
    * be dedup targets — they may belong to a torn cycle).
    *
    * Each table costs one write and nothing else: the endpoint chains
    * (fetch → shape → anti-join → stage) run concurrently, one thread
    * per endpoint, and their row counts are observed on the write's own
    * plan. The call waits for every chain, rethrows the first failure
    * in priority order before anything is committed, and then commits
    * from the calling thread; no staging thread outlives the call. The
    * staging threads are created here, so they inherit the caller's
    * SparkContext local properties (job group, description, pool).
    * The report lists endpoints in priority order.
    */
  def runIncrementalCycleAtomic(spark: SparkSession,
      misaFetchers: Map[String, PaginatedSource.PageFetcher],
      tiktokDocs: Seq[String],
      root: String,
      cutoff: java.sql.Timestamp): (CycleReport, Long) = {
    val unknown = misaFetchers.keySet -- endpointPriority.toSet
    require(unknown.isEmpty,
      s"unknown endpoint(s) ${unknown.mkString(",")}; known: ${endpointPriority.mkString(",")}")
    val batch = EtlMeta.newBatch("incremental_cycle")

    def stageFresh(table: String, keys: Seq[String],
        df: DataFrame): (EndpointResult, Option[(String, String)]) = {
      // Both counts are observed on the plan the delta write runs: no
      // pass over the data besides the write itself.
      val delivered = Observation()
      val appended = Observation()
      val inBatch = df.observe(delivered, count(lit(1)).as("n")).dropDuplicates(keys)
      val fresh = ManifestCommit.readTable(spark, root, table) match {
        case Some(existing) =>
          inBatch.join(existing.select(keys.map(col): _*), keys, "left_anti")
        case None => inBatch
      }
      val rel = ManifestCommit.stageDelta(spark,
        fresh.observe(appended, count(lit(1)).as("n")), root, table)
      val staged = appended.get("n").asInstanceOf[Long]
      (EndpointResult(table, delivered.get("n").asInstanceOf[Long], staged),
        if (staged > 0) Some(table -> rel) else None)
    }

    val misa = endpointPriority.flatMap { ep =>
      misaFetchers.get(ep).map { f => () =>
        val spec = SchemaRegistry.byName(ep)
        shapeEndpoint(spark, ep, f, cutoff, batch)
          .map(stageFresh(spec.name, spec.keys, _))
          .getOrElse((EndpointResult(ep, 0L, 0L), None))
      }
    }
    val tiktok = () => {
      val flat = TikTokFlatten.flatten(
        TikTokFlatten.parseOrders(spark, tiktokDocs), batch)
      stageFresh(SchemaRegistry.tiktokOrders.name,
        SchemaRegistry.tiktokOrders.keys, flat)
    }

    val all = inParallel(misa :+ tiktok)
    val staged = all.flatMap(_._2)
      .groupBy(_._1).map { case (t, es) => t -> es.map(_._2) }
    val version = ManifestCommit.commit(spark, root, staged)

    val results = all.map(_._1)
    val passed = qualityGate(results)(t =>
      ManifestCommit.readTable(spark, root, t).exists(!_.isEmpty))
    (CycleReport(results, passed, batch.batchId), version)
  }

  /** Runs `tasks` on a pool of one thread each, created by (and so
    * inheriting the local properties of) the calling thread. Waits for
    * every task, then returns their results in order or rethrows the
    * first failure in order, unwrapped. The pool is gone on return.
    */
  private def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    val outcomes =
      try tasks.map(t => pool.submit((() => t()): Callable[T])).map(f => Try(f.get()))
      finally {
        // Every task has finished unless the caller was interrupted;
        // then the stragglers are interrupted too, and still awaited.
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    outcomes.map {
      case Failure(e: ExecutionException) => throw e.getCause
      case o => o.get
    }
  }

  /** §3.3 historical backfill: the date range splits into fixed-day batches
    * (run_historical_backfill.py:300-313), each processed idempotently with
    * the L5 MERGE path. Returns per-batch row counts.
    */
  def runBackfill(spark: SparkSession,
      fetchBatch: (java.time.LocalDate, java.time.LocalDate) => DataFrame,
      from: java.time.LocalDate, to: java.time.LocalDate, batchDays: Int,
      stagingPath: String, keys: Seq[String]): Seq[(String, Long)] = {
    require(batchDays > 0, "batchDays must be positive")
    Iterator.iterate(from)(_.plusDays(batchDays.toLong))
      .takeWhile(_.isBefore(to))
      .map { start =>
        val end = Seq(start.plusDays(batchDays.toLong), to).min(
          Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
        // Cache: count + merge would otherwise re-execute the extraction
        // (2-3 fetches of the same remote window per batch).
        val batchDf = fetchBatch(start, end).cache()
        val n = batchDf.count()
        if (n > 0) Sinks.mergeUpsert(spark, batchDf, stagingPath, keys)
        batchDf.unpersist()
        (s"$start..$end", n)
      }.toSeq
  }
}
