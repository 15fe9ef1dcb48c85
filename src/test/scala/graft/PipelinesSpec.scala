package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.Pipelines
import graft.sources.PaginatedSource

/** §3 lifecycle parity: incremental cycle (priority endpoints + tiktok +
  * quality gate) and batched backfill with MERGE idempotency.
  */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fetcher(docs: Seq[String]): PaginatedSource.PageFetcher =
    new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] =
        docs.slice(page * pageSize, (page + 1) * pageSize)
    }

  private def customerDocs(ids: Seq[Int]): Seq[String] = ids.map(i =>
    s"""{"id":$i,"account_name":"c$i","annual_revenue":"${i * 100}",
       |"modified_date":"2024-06-0${i} 00:00:00","inactive":false}"""
      .stripMargin.replace("\n", ""))

  private def saleOrderDoc(id: Int): String =
    s"""{"id":$id,"sale_order_no":"SO-$id","sale_order_amount":"100","modified_date":"2024-06-05 00:00:00",
      |"sale_order_product_mappings":[{"id":${id}1,"price":"10"},{"id":${id}2,"price":"20"}]}"""
      .stripMargin.replace("\n", "")

  private def tiktokDoc(id: String): String =
    s"""{"order_id":"$id","order_status":"PAID","create_time":1717200000,
      |"line_items":[{"product_id":"p1","sku_id":"s1","quantity":"1","unit_price":"9.99"}]}"""
      .stripMargin.replace("\n", "")

  private val customers = customerDocs(1 to 5)
  private val saleOrders = Seq(saleOrderDoc(1))
  private val tiktok = Seq(tiktokDoc("t1"))

  test("incremental cycle: priority endpoints + tiktok + quality gate; re-run is a no-op") {
    val root = Files.createTempDirectory("graft-cycle").toString
    val fetchers = Map(
      "misa_customers" -> fetcher(customers),
      "misa_sale_orders_flattened" -> fetcher(saleOrders))
    val cutoff = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")

    val r1 = Pipelines.runIncrementalCycle(spark, fetchers, tiktok, root, cutoff)
    assert(r1.qualityPassed)
    assert(r1.endpoints.map(e => e.endpoint -> e.appended).toMap === Map(
      "misa_sale_orders_flattened" -> 2L, // 2 items
      "misa_customers" -> 5L,
      "tiktok_shop_orders" -> 1L))
    // priority order preserved: sale orders processed before customers
    assert(r1.endpoints.head.endpoint === "misa_sale_orders_flattened")

    // Second cycle over the same window: PK dedup makes it a no-op for MISA
    // (same business keys) — idempotent re-extraction (§2.7).
    val r2 = Pipelines.runIncrementalCycle(spark, fetchers, Seq.empty, root, cutoff)
    assert(r2.endpoints.filter(_.endpoint.startsWith("misa")).forall(_.appended === 0L))
    assert(spark.read.parquet(s"$root/misa_customers").count() === 5L)
  }

  test("atomic cycle: a crash between tables publishes NOTHING; retry publishes all") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-atomic").toString
    val cutoff = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")

    // Cycle 1, torn: sale orders (priority 1) stages fine, then the
    // customers fetcher dies mid-cycle — AFTER data has hit disk for the
    // first table. The reference's SQL transaction would roll back; the
    // manifest commit must make the staged delta invisible.
    val bomb = new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] =
        throw new RuntimeException("fetcher crash mid-cycle")
    }
    intercept[RuntimeException] {
      Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_sale_orders_flattened" -> fetcher(saleOrders),
        "misa_customers" -> bomb), Seq.empty, root, cutoff)
    }
    // Nothing is visible — not even the table that was already staged.
    assert(ManifestCommit.currentManifest(spark, root).isEmpty)
    assert(ManifestCommit.readTable(spark, root, "misa_sale_orders_flattened").isEmpty)

    // Cycle 2, clean: all three sources land in ONE commit.
    val (r, v1) = Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_sale_orders_flattened" -> fetcher(saleOrders),
      "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    assert(r.qualityPassed)
    assert(r.endpoints.map(e => e.endpoint -> e.appended).toMap === Map(
      "misa_sale_orders_flattened" -> 2L,
      "misa_customers" -> 5L,
      "tiktok_shop_orders" -> 1L))
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get.count() === 5L)

    // Re-run the same window: manifest-view dedup makes it a no-op for
    // MISA (idempotent re-extraction), and the commit still advances the
    // version (an empty cycle is a real, auditable cycle).
    val (r2, v2) = Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_sale_orders_flattened" -> fetcher(saleOrders),
      "misa_customers" -> fetcher(customers)), Seq.empty, root, cutoff)
    assert(v2 > v1)
    assert(r2.endpoints.filter(_.endpoint.startsWith("misa")).forall(_.appended === 0L))
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get.count() === 5L)

    // Time travel: a historical version reads exactly as it committed
    // (manifests are immutable until vacuumed); a version that never
    // existed reads as None.
    assert(ManifestCommit.readTableAt(spark, root, "misa_customers", v1)
      .get.count() === 5L)
    assert(ManifestCommit.versions(spark, root) === Seq(v1, v2))
    assert(ManifestCommit.manifestAt(spark, root, 99L).isEmpty)

    // Vacuum reclaims the torn cycle's orphan delta (plus the empty
    // rerun deltas and superseded manifests) without touching live data.
    assert(ManifestCommit.vacuum(spark, root) > 0)
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get.count() === 5L)
    assert(ManifestCommit.readTable(spark, root, "tiktok_shop_orders").get.count() === 1L)

    // Compaction folds a table's delta list to one dir transactionally.
    ManifestCommit.compactTable(spark, root, "misa_customers")
    ManifestCommit.vacuum(spark, root)
    assert(ManifestCommit.currentManifest(spark, root)
      .get.tables("misa_customers").size === 1)
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get.count() === 5L)
  }

  private val cutoff = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")

  /** A fetcher that waits `millis` before serving `docs`, or throws
    * `error` after the wait.
    */
  private def slowFetcher(millis: Long, docs: Seq[String],
      error: Option[Throwable] = None): PaginatedSource.PageFetcher =
    new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
        Thread.sleep(millis)
        error.foreach(e => throw e)
        docs.slice(page * pageSize, (page + 1) * pageSize)
      }
    }

  /** Every `<table>/.graft-delta-*` directory under `root`. */
  private def deltaDirs(root: String): Set[String] =
    Option(new java.io.File(root).listFiles).toSeq.flatten.filter(_.isDirectory)
      .flatMap(t => Option(t.listFiles).toSeq.flatten.map(_.getName)
        .filter(_.startsWith(".graft-delta-")).map(d => s"${t.getName}/$d"))
      .toSet

  /** The job group of every job started while `body` runs, in start
    * order (null for a job without one). A fence job, run in a group of
    * its own from another thread, marks the end of the listener's backlog.
    */
  private def jobGroupsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (g.contains(fence)) fenced.countDown() else groups.add(g)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      val fenceJob = new Thread(() => {
        sc.setJobGroup(fence, "listener fence")
        sc.parallelize(Seq(1), 1).count()
      })
      fenceJob.start(); fenceJob.join()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    groups.asScala.toSeq.map(_.orNull)
  }

  test("atomic cycle: rows/appended come from the write; gate probes only tables that staged nothing") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-counts").toString
    // Customer 3 is delivered twice in one window (an in-batch duplicate).
    val window1 = customerDocs(Seq(1, 2, 3, 3, 4))
    val delivered = Pipelines.shapeEndpoint(spark, "misa_customers", fetcher(window1),
      cutoff, graft.operators.EtlMeta.newBatch("expected")).get.count()
    val (r1, _) = Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_customers" -> fetcher(window1),
      "misa_sale_orders_flattened" -> fetcher(saleOrders)), tiktok, root, cutoff)
    val c1 = r1.endpoints.find(_.endpoint == "misa_customers").get
    assert(delivered === 5L)
    assert(c1.rows === delivered)
    assert(c1.appended === 4L)
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get.count() === 4L)
    assert(r1.qualityPassed)

    // Overlapping window: 3 and 4 are committed, 5 is new (and duplicated).
    val (r2, _) = Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_customers" -> fetcher(customerDocs(Seq(3, 4, 5, 5))),
      "misa_sale_orders_flattened" -> fetcher(saleOrders)), Seq.empty, root, cutoff)
    assert(r2.endpoints.map(e => e.endpoint -> (e.rows, e.appended)) === Seq(
      "misa_sale_orders_flattened" -> (2L, 0L),
      "misa_customers" -> (4L, 1L),
      "tiktok_shop_orders" -> (0L, 0L)))
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get.count() === 5L)
    // Two of three tables staged nothing this cycle, but both have
    // committed history: the gate still passes.
    assert(r2.qualityPassed)

    // A fresh root where two of three tables never staged anything fails
    // the gate, on both cycle variants.
    val empty = fetcher(Seq.empty)
    val (r3, _) = Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_customers" -> fetcher(customers),
      "misa_sale_orders_flattened" -> empty), Seq.empty,
      Files.createTempDirectory("graft-gate").toString, cutoff)
    assert(!r3.qualityPassed)
    val r4 = Pipelines.runIncrementalCycle(spark, Map(
      "misa_customers" -> fetcher(customers),
      "misa_sale_orders_flattened" -> empty), Seq.empty,
      Files.createTempDirectory("graft-gate-append").toString, cutoff)
    assert(!r4.qualityPassed)
  }

  test("atomic cycle: concurrent staging waits for every endpoint and rethrows the first failure by priority") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-concurrent").toString
    val first = new IllegalStateException("customers fetch failed")
    val second = new IllegalArgumentException("contacts fetch failed")
    // Contacts fails at once, customers (higher priority) later, and sale
    // orders only stages after both have failed.
    val thrown = intercept[Exception] {
      Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_sale_orders_flattened" -> slowFetcher(1500, saleOrders),
        "misa_customers" -> slowFetcher(500, Nil, Some(first)),
        "misa_contacts" -> slowFetcher(0, Nil, Some(second))), tiktok, root, cutoff)
    }
    assert(thrown eq first)
    val atReturn = deltaDirs(root)
    // The slow endpoint finished staging before the call returned ...
    assert(atReturn.exists(_.startsWith("misa_sale_orders_flattened/")), atReturn)
    // ... nothing was published, and nothing is still staging.
    assert(ManifestCommit.currentManifest(spark, root).isEmpty)
    Thread.sleep(2000)
    assert(deltaDirs(root) === atReturn)
  }

  test("atomic cycle: every job of the staging threads carries the caller's job group") {
    val root = Files.createTempDirectory("graft-jobgroup").toString
    val group = s"etl-cycle-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "one atomic cycle")
    val groups = try jobGroupsDuring {
      Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_sale_orders_flattened" -> fetcher(saleOrders),
        "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    } finally sc.clearJobGroup()
    assert(groups.nonEmpty)
    assert(groups.forall(_ == group), groups)
  }

  /** Jobs of one warm atomic cycle that stages rows into all three tables
    * of the fixture on top of committed history: per table, the delta
    * write and the jobs its plan needs (JSON schema inference and the
    * empty-window probe for a MISA endpoint, the committed view's schema
    * inference, the dedup shuffle, the anti-join broadcast). Measured at
    * 16. The cycle used to run 40: per table it also re-ran
    * fetch→flatten→cast to count the delivered rows, inferred the schema
    * of the written delta and scanned it to count the appended rows, and
    * after the commit inferred the schema of the table's whole committed
    * history and counted it for the quality gate.
    */
  private val CycleJobBudget = 16

  test("atomic cycle: one warm cycle stays within its job budget") {
    val root = Files.createTempDirectory("graft-budget").toString
    Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_sale_orders_flattened" -> fetcher(saleOrders),
      "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    val jobs = jobGroupsDuring {
      val (r, _) = Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_sale_orders_flattened" -> fetcher(Seq(saleOrderDoc(2))),
        "misa_customers" -> fetcher(customerDocs(6 to 8))),
        Seq(tiktokDoc("t2")), root, cutoff)
      assert(r.endpoints.forall(_.appended > 0), r)
    }.size
    assert(jobs <= CycleJobBudget, s"$jobs jobs for one cycle, budget $CycleJobBudget")
  }

  test("racing committers from the same version: exactly one wins, the loser fails loudly without clobbering") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-race").toString
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._

    // Base version: one committed delta.
    val d0 = ManifestCommit.stageDelta(spark,
      Seq((1L, "base")).toDF("id", "v"), root, "t")
    val v1 = ManifestCommit.commit(spark, root, Map("t" -> Seq(d0)))

    // Two writers both observe v1 and stage their own deltas — the torn-
    // orchestrator double-cycle. Writer A publishes v2 first; writer B,
    // still holding its stale view, then attempts the SAME version.
    val base = ManifestCommit.currentManifest(spark, root).get
    val dA = ManifestCommit.stageDelta(spark,
      Seq((2L, "writer-a")).toDF("id", "v"), root, "t")
    val dB = ManifestCommit.stageDelta(spark,
      Seq((3L, "writer-b")).toDF("id", "v"), root, "t")
    ManifestCommit.publish(hfs, root, base.version + 1,
      base.tables.updated("t", base.tables("t") :+ dA))
    val err = intercept[IllegalStateException] {
      ManifestCommit.publish(hfs, root, base.version + 1,
        base.tables.updated("t", base.tables("t") :+ dB))
    }
    assert(err.getMessage.contains("already committed"))

    // The winner's manifest is intact — v2 carries base + A, never B
    // (on a local FS a raw rename would have silently OVERWRITTEN the
    // winner with the loser's view, losing writer A's data).
    val m2 = ManifestCommit.currentManifest(spark, root).get
    assert(m2.version === v1 + 1)
    assert(m2.tables("t").toSet === Set(d0, dA))
    assert(ManifestCommit.readTable(spark, root, "t").get
      .select("v").as[String].collect().toSet === Set("base", "writer-a"))

    // The loser retries from the CURRENT manifest (the documented
    // protocol) and lands cleanly on v3 with all three deltas.
    val v3 = ManifestCommit.commit(spark, root, Map("t" -> Seq(dB)))
    assert(v3 === v1 + 2)
    assert(ManifestCommit.readTable(spark, root, "t").get
      .select("v").as[String].collect().toSet ===
        Set("base", "writer-a", "writer-b"))
  }

  test("TRULY concurrent committers: barrier-released racers, exactly one publish wins") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-race-hot").toString
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 16 writers all pass the exists() pre-check simultaneously (the
    // barrier releases them together), so only the link(2)-based
    // create-if-absent in publish() can arbitrate — this is the window
    // the serialized test above cannot reach.
    val writers = 16
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val threads = (0 until writers).map { i =>
      new Thread(() => {
        barrier.await()
        try {
          ManifestCommit.publish(hfs, root, 1L, Map("t" -> Seq(s"t/delta-$i")))
          results.put(i, true)
        } catch { case _: IllegalStateException => results.put(i, false) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())

    val winners = (0 until writers).filter(results.get(_))
    assert(winners.size === 1, s"expected exactly one winner, got $winners")
    // The surviving manifest is the WINNER's body, bit-for-bit — no loser
    // overwrote it after the fact.
    val m = ManifestCommit.currentManifest(spark, root).get
    assert(m.version === 1L)
    assert(m.tables("t") === Seq(s"t/delta-${winners.head}"))
    // No stray temp files leaked from the losing publishes.
    val leftovers = hfs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/_graft_manifest"))
      .map(_.getPath.getName).filter(_.startsWith(".graft-tmp-"))
    assert(leftovers.isEmpty, s"leaked temp manifests: ${leftovers.toSeq}")
  }

  test("backfill: 30-day batches, MERGE keeps reruns idempotent") {
    val path = Files.createTempDirectory("graft-backfill").resolve("t").toString
    def fetchBatch(from: java.time.LocalDate, to: java.time.LocalDate) = {
      val days = Iterator.iterate(from)(_.plusDays(1L))
        .takeWhile(_.isBefore(to)).map(_.toString).toSeq
      days.map(d => (d, s"order-$d")).toDF("day", "payload")
    }
    val batches = Pipelines.runBackfill(spark, fetchBatch,
      java.time.LocalDate.parse("2024-01-01"), java.time.LocalDate.parse("2024-03-01"),
      batchDays = 30, stagingPath = path, keys = Seq("day"))
    assert(batches.length === 2)
    val total = spark.read.parquet(path).count()
    assert(total === 60L) // Jan 31 + Feb 29

    // Re-run the same range: MERGE upsert → same row count.
    Pipelines.runBackfill(spark, fetchBatch,
      java.time.LocalDate.parse("2024-01-01"), java.time.LocalDate.parse("2024-03-01"),
      batchDays = 30, stagingPath = path, keys = Seq("day"))
    assert(spark.read.parquet(path).count() === 60L)
  }
}
