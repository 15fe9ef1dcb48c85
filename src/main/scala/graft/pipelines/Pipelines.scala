package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{CacheScope, Parallel, SchemaRegistry}
import graft.operators.{EtlMeta, Flatten, Relational, TikTokFlatten}
import graft.sources.{ManifestCommit, PaginatedSource}

/** The reference's three pipeline lifecycles (SURVEY §3) as composable,
  * testable functions. Sources are pluggable [[PaginatedSource.PageFetcher]]s
  * and the sink substrate is a [[ManifestCommit]] root — the same code
  * drives a fake-fetcher test and a production REST deployment.
  *
  * Execution shape vs the reference: each endpoint window is ONE lazy
  * Spark plan (scan → transform → dedup → anti-join → write) over one
  * partition — the window is at most `maxPages × pageSize` records the
  * driver's page loop already holds, so partitioning it would only add
  * shuffles. The XCom/temp-parquet hops of the Airflow DAGs (§3.1)
  * disappear into the plan. On top of committed history a MISA table
  * costs two jobs, the broadcast of its committed keys and its delta
  * write; TikTok costs its write only (see [[runIncrementalCycleAtomic]]).
  * Endpoints are reported in the reference's priority order (sale_orders
  * first — production_etl_orchestrator.py:137-145). They are independent:
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
    * lineage stamp. Returns None when the page loop returned no records;
    * a window that the lookback filter empties is still a frame (its
    * write observes 0 rows).
    */
  def shapeEndpoint(spark: SparkSession, endpoint: String,
      fetcher: PaginatedSource.PageFetcher, cutoff: java.sql.Timestamp,
      batch: EtlMeta.Batch, pageSize: Int = 100,
      maxPages: Int = 2): Option[DataFrame] = {
    val spec = SchemaRegistry.byName(endpoint)
    val records = PaginatedSource.fetchPages(fetcher, pageSize, maxPages)
    if (records.isEmpty) return None
    val raw = PaginatedSource.lookback(
      PaginatedSource.jsonFrame(spark, records), "modified_date", cutoff)
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

  /** §3.2 `facolos_incremental_etl_production`: the MISA endpoints in
    * priority order plus the TikTok recent window, then the A3 quality
    * gate — with CROSS-TABLE atomicity: every endpoint's fresh rows are
    * staged as invisible [[ManifestCommit]] deltas, then ONE manifest
    * rename publishes the whole cycle — the parquet
    * equivalent of the reference's per-cycle SQL Server transaction
    * (run_historical_backfill.py:86-183). A crash or failed endpoint
    * anywhere before the commit leaves every table at the previous
    * version: a torn cycle is invisible to readers. Its orphaned delta
    * dirs stay on disk until a caller runs [[ManifestCommit.vacuum]];
    * no writer does yet (ROADMAP item 1 wires it into the commit).
    *
    * Dedup is the L4 semantics of [[graft.operators.Relational.dedupAppend]],
    * anti-joined against the COMMITTED manifest view (uncommitted deltas
    * can never be dedup targets — they may belong to a torn cycle). The cycle
    * reads the manifest once: every anti-join sees that version, and
    * the commit publishes the version after it, so a writer that
    * commits while the cycle runs makes the cycle fail loudly (nothing
    * published) instead of landing on a version its anti-joins never
    * saw.
    *
    * Each table costs its delta write and, on top of committed history,
    * the broadcast of the committed keys. A MISA window's JSON schema is
    * inferred on the driver ([[PaginatedSource.jsonFrame]]), so it costs
    * no job. TikTok's key holds the batch id, which no committed row
    * carries, so TikTok reads no committed keys: a redelivered order is
    * appended again, once per window (the in-batch dedup still runs).
    * The window is at most `maxPages × pageSize` records already on the
    * driver, so it is planned as one partition: the in-batch dedup and
    * the anti-join need no shuffle. The committed keys are read with the
    * window's key types (no schema inference; a committed key of another
    * type fails the read), row counts are observed on the write's own
    * plan, and a write that appended nothing deletes its delta. The endpoint chains
    * (fetch → shape → anti-join → stage) run concurrently, one thread
    * per endpoint. The call waits for every chain, rethrows the first
    * failure in priority order before anything is committed, and then
    * commits from the calling thread; no staging thread outlives the
    * call. The staging threads are created here, so they inherit the
    * caller's SparkContext local properties (job group, description,
    * pool). The report lists endpoints in priority order.
    */
  def runIncrementalCycleAtomic(spark: SparkSession,
      misaFetchers: Map[String, PaginatedSource.PageFetcher],
      tiktokDocs: Seq[String],
      root: String,
      cutoff: java.sql.Timestamp): (CycleReport, Long) = {
    // A fetcher keyed by an unknown endpoint would be silently skipped —
    // a misspelled name must fail loudly, not drop the endpoint.
    val unknown = misaFetchers.keySet -- endpointPriority.toSet
    require(unknown.isEmpty,
      s"unknown endpoint(s) ${unknown.mkString(",")}; known: ${endpointPriority.mkString(",")}")
    val batch = EtlMeta.newBatch("incremental_cycle")
    val base = ManifestCommit.currentManifest(spark, root)

    def stageFresh(table: String, keys: Seq[String],
        df: DataFrame): (EndpointResult, Option[(String, String)]) = {
      // Both counts are observed on the plan the delta write runs: no
      // pass over the data besides the write itself.
      val delivered = Observation()
      val appended = Observation()
      val inBatch = df.coalesce(1)
        .observe(delivered, count(lit(1)).as("n")).dropDuplicates(keys)
      val keySchema = StructType(keys.map(inBatch.schema(_)))
      // A key that holds the batch id matches no committed row (each
      // carries an earlier batch's id), so that table skips the read.
      val committed =
        if (keys.contains("etl_batch_id")) None
        else base.flatMap(ManifestCommit.tableFrom(spark, root, _, table, keySchema))
      val fresh = committed match {
        case Some(existing) => inBatch.join(existing, keys, "left_anti")
        case None => inBatch
      }
      val rel = ManifestCommit.stageDelta(spark,
        fresh.observe(appended, count(lit(1)).as("n")), root, table)
      val staged = appended.get("n").asInstanceOf[Long]
      if (staged == 0) ManifestCommit.discardDelta(spark, root, rel)
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

    val all = Parallel.inParallel(misa :+ tiktok)
    val staged = all.flatMap(_._2)
      .groupBy(_._1).map { case (t, es) => t -> es.map(_._2) }
    val version = ManifestCommit.commitOver(spark, root, base, staged)

    // A3 quality gate (orchestrator:307-312), the reference's 5-of-6
    // rule: at most one table may be empty after the cycle. Answered from
    // the manifest just published (base plus this cycle's deltas): a
    // table is non-empty when its delta list there is, because the cycle
    // commits only deltas that hold rows.
    val nonEmpty = staged.keySet ++
      base.fold(Set.empty[String])(_.tables.filter(_._2.nonEmpty).keySet)
    val results = all.map(_._1)
    val passed = results.count(r => nonEmpty(r.endpoint)) >= results.size - 1
    (CycleReport(results, passed, batch.batchId), version)
  }

  /** §3.3 historical backfill: the date range splits into fixed-day batches
    * (run_historical_backfill.py:300-313), each an L5 MERGE into `table`
    * of the manifest `root` — the staging table the incremental cycle
    * appends to, so a backfilled key is a dedup target for the next
    * cycle. A batch with rows becomes the table's new contents, merged
    * over the committed rows on `keys` (or the batch itself on first
    * load), published as one delta through [[ManifestCommit.replaceTable]];
    * the deltas it replaced are then deleted, so the table keeps one
    * copy. That ends time travel to the table's earlier versions; the
    * manifest files and every other table's deltas are kept. Each batch
    * rewrites the whole table, so a backfill costs the table's size once
    * per batch. A batch is idempotent and atomic: a rerun converges, and
    * a failure before its publish leaves the previous version. Like
    * every writer it must not run beside another writer on the same
    * root ([[ManifestCommit]]'s single-writer contract). Returns per-batch
    * row counts.
    */
  def runBackfill(spark: SparkSession,
      fetchBatch: (java.time.LocalDate, java.time.LocalDate) => DataFrame,
      from: java.time.LocalDate, to: java.time.LocalDate, batchDays: Int,
      root: String, table: String, keys: Seq[String]): Seq[(String, Long)] = {
    require(batchDays > 0, "batchDays must be positive")
    Iterator.iterate(from)(_.plusDays(batchDays.toLong))
      .takeWhile(_.isBefore(to))
      .map { start =>
        val end = Seq(start.plusDays(batchDays.toLong), to).min(
          Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
        // Cache: count + merge would otherwise re-execute the extraction
        // (2-3 fetches of the same remote window per batch). Released on
        // every exit, so a refused merge leaves no cached batch behind.
        CacheScope.using {
          val batchDf = CacheScope.cached(fetchBatch(start, end))
          val n = batchDf.count()
          if (n > 0) {
            ManifestCommit.replaceTable(spark, root, table) { committed =>
              Some(committed.fold(batchDf)(Relational.mergeUpsert(_, batchDf, keys)))
            }.foreach(_._2.foreach(ManifestCommit.discardDelta(spark, root, _)))
          }
          (s"$start..$end", n)
        }
      }.toSeq
  }
}
