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

    val (r1, _) = Pipelines.runIncrementalCycleAtomic(spark, fetchers, tiktok, root, cutoff)
    assert(r1.qualityPassed)
    assert(r1.endpoints.map(e => e.endpoint -> e.appended).toMap === Map(
      "misa_sale_orders_flattened" -> 2L, // 2 items
      "misa_customers" -> 5L,
      "tiktok_shop_orders" -> 1L))
    // priority order preserved: sale orders processed before customers
    assert(r1.endpoints.head.endpoint === "misa_sale_orders_flattened")

    // Second cycle over the same window: PK dedup makes it a no-op for MISA
    // (same business keys) — idempotent re-extraction (§2.7).
    val (r2, _) = Pipelines.runIncrementalCycleAtomic(spark, fetchers, Seq.empty, root, cutoff)
    assert(r2.endpoints.filter(_.endpoint.startsWith("misa")).forall(_.appended === 0L))
    assert(graft.sources.ManifestCommit.readTable(spark, root, "misa_customers")
      .get.count() === 5L)
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

    // Vacuum reclaims the torn cycle's orphan delta and the superseded
    // manifests without touching live data (a rerun that appends nothing
    // deletes its own empty deltas, so it leaves none to reclaim).
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
    // the gate.
    val empty = fetcher(Seq.empty)
    val (r3, _) = Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_customers" -> fetcher(customers),
      "misa_sale_orders_flattened" -> empty), Seq.empty,
      Files.createTempDirectory("graft-gate").toString, cutoff)
    assert(!r3.qualityPassed)
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
    val groups = try SparkJobs.groupsDuring(spark) {
      Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_sale_orders_flattened" -> fetcher(saleOrders),
        "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    } finally sc.clearJobGroup()
    assert(groups.nonEmpty)
    assert(groups.forall(_ == group), groups)
  }

  /** Jobs of one warm atomic cycle that stages rows into all three tables
    * of the fixture on top of committed history: per table, the delta
    * write, and for the two MISA tables the broadcast of the committed
    * keys. Measured at 5. The cycle used to run 8: each MISA window's
    * JSON schema was inferred by a job, and TikTok broadcast its
    * committed keys; before that 16 (per table it also inferred the
    * committed view's schema and shuffled the window for the dedup, and
    * each MISA window got an empty-window probe), and before that 40 (a
    * recount of each window, a scan of each written delta and a full
    * count for the quality gate).
    */
  private val CycleJobBudget = 5

  test("atomic cycle: one warm cycle stays within its job budget") {
    val root = Files.createTempDirectory("graft-budget").toString
    Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_sale_orders_flattened" -> fetcher(saleOrders),
      "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    val jobs = SparkJobs.groupsDuring(spark) {
      val (r, _) = Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_sale_orders_flattened" -> fetcher(Seq(saleOrderDoc(2))),
        "misa_customers" -> fetcher(customerDocs(6 to 8))),
        Seq(tiktokDoc("t2")), root, cutoff)
      assert(r.endpoints.forall(_.appended > 0), r)
    }.size
    assert(jobs <= CycleJobBudget, s"$jobs jobs for one cycle, budget $CycleJobBudget")
  }

  test("atomic cycle: a redelivered TikTok order is appended again and no committed TikTok file is read") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-tiktok-redelivered").toString
    Pipelines.runIncrementalCycleAtomic(spark, Map.empty, tiktok, root, cutoff)
    val Seq(first) = ManifestCommit.currentManifest(spark, root).get.tables("tiktok_shop_orders")
    // Remove the committed TikTok delta: a cycle that read it would fail.
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$root/$first"), true))
    val (r, _) = Pipelines.runIncrementalCycleAtomic(spark, Map.empty,
      tiktok ++ tiktok :+ tiktokDoc("t2"), root, cutoff)
    // t1 again (once, the in-batch dedup drops its second copy) and t2.
    assert(r.endpoints === Seq(Pipelines.EndpointResult("tiktok_shop_orders", 3L, 2L)))
    val Seq(`first`, second) =
      ManifestCommit.currentManifest(spark, root).get.tables("tiktok_shop_orders")
    assert(spark.read.parquet(s"$root/$second").select("order_id").as[String]
      .collect().sorted.toSeq === Seq("t1", "t2"))
  }

  /** The delta dirs the current manifest of `root` references. */
  private def referenced(root: String): Set[String] =
    graft.sources.ManifestCommit.currentManifest(spark, root)
      .fold(Set.empty[String])(_.tables.values.flatten.toSet)

  test("atomic cycle: a writer that commits during the cycle makes it fail loudly and publish nothing") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-midcycle").toString
    Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    val other = ManifestCommit.stageDelta(spark, Seq(1L).toDF("x"), root, "other")
    // The customers fetch commits for another writer after the cycle has
    // read its manifest and before it publishes.
    val intruder = new PaginatedSource.PageFetcher {
      private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
        if (done.compareAndSet(false, true))
          ManifestCommit.commit(spark, root, Map("other" -> Seq(other)))
        customerDocs(6 to 7).slice(page * pageSize, (page + 1) * pageSize)
      }
    }
    val lost = intercept[IllegalStateException] {
      Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_customers" -> intruder), Seq(tiktokDoc("t2")), root, cutoff)
    }
    assert(lost.getMessage.contains("already committed"), lost)
    // Only the other writer's version exists; the cycle's rows are not in it.
    assert(ManifestCommit.versions(spark, root) === Seq(1L, 2L))
    assert(ManifestCommit.currentManifest(spark, root).get.tables("other") === Seq(other))
    assert(ManifestCommit.readTable(spark, root, "misa_customers").get.count() === 5L)
    assert(ManifestCommit.readTable(spark, root, "tiktok_shop_orders").get.count() === 1L)
  }

  test("atomic cycle: a redelivered or lookback-emptied window leaves no unreferenced delta") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-redelivered").toString
    // Every contact predates the cutoff: the window reaches the write and
    // the write observes 0 rows.
    val stale = Seq(1, 2).map(i =>
      s"""{"id":$i,"contact_name":"k$i","modified_date":"2024-05-0$i 00:00:00"}""")
    val fetchers = Map(
      "misa_sale_orders_flattened" -> fetcher(saleOrders),
      "misa_customers" -> fetcher(customers),
      "misa_contacts" -> fetcher(stale))
    val (r1, _) = Pipelines.runIncrementalCycleAtomic(spark, fetchers, tiktok, root, cutoff)
    assert(r1.endpoints.find(_.endpoint == "misa_contacts").get === Pipelines.EndpointResult(
      "misa_contacts", 0L, 0L))
    assert(r1.qualityPassed)
    assert(deltaDirs(root) === referenced(root))
    // The same window again: every MISA row is committed already.
    val (r2, _) = Pipelines.runIncrementalCycleAtomic(spark, fetchers, Seq.empty, root, cutoff)
    assert(r2.endpoints.forall(_.appended === 0L), r2)
    assert(r2.qualityPassed)
    assert(deltaDirs(root) === referenced(root))
    assert(ManifestCommit.vacuum(spark, root) === 1) // the superseded manifest only
  }

  test("atomic cycle: a committed key column of another type fails the cycle and publishes nothing") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-keytype").toString
    // The committed customers key is a string; the window's `id` is a bigint.
    val legacy = ManifestCommit.stageDelta(spark,
      Seq(("1", "c1")).toDF("id", "account_name"), root, "misa_customers")
    ManifestCommit.commit(spark, root, Map("misa_customers" -> Seq(legacy)))
    val before = ManifestCommit.currentManifest(spark, root).get
    val e = intercept[Exception] {
      Pipelines.runIncrementalCycleAtomic(spark, Map(
        "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("Parquet column [id]"), messages)
    assert(ManifestCommit.currentManifest(spark, root).get === before)
  }

  test("atomic cycle: an idle endpoint starts no job, in its chain or in the quality gate") {
    val root = Files.createTempDirectory("graft-idle").toString
    Pipelines.runIncrementalCycleAtomic(spark, Map(
      "misa_customers" -> fetcher(customers)), tiktok, root, cutoff)
    def jobsOf(misa: Map[String, PaginatedSource.PageFetcher]) = {
      var report: Pipelines.CycleReport = null
      val n = SparkJobs.groupsDuring(spark) {
        report = Pipelines.runIncrementalCycleAtomic(
          spark, misa, Seq(tiktokDoc("t3")), root, cutoff)._1
      }.size
      (n, report)
    }
    val (alone, _) = jobsOf(Map.empty)
    // Customers delivers no page: it appends nothing and passes the gate
    // on its committed history, for no job at all.
    val (withIdle, r) = jobsOf(Map("misa_customers" -> fetcher(Seq.empty)))
    assert(r.endpoints.find(_.endpoint == "misa_customers").get === Pipelines.EndpointResult(
      "misa_customers", 0L, 0L))
    assert(r.qualityPassed)
    assert(withIdle === alone, s"$withIdle jobs with the idle endpoint, $alone without it")
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

  test("commitOver: a stale snapshot loses loudly; replaced lists apply before appended deltas") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-commit-over").toString
    import spark.implicits._
    def delta(v: String) =
      ManifestCommit.stageDelta(spark, Seq(v).toDF("v"), root, "t")
    val d0 = delta("base")
    ManifestCommit.commit(spark, root, Map("t" -> Seq(d0)))
    val snapshot = ManifestCommit.currentManifest(spark, root)
    // Another writer commits after the snapshot was read.
    val dA = delta("writer-a")
    ManifestCommit.commit(spark, root, Map("t" -> Seq(dA)))
    val dB = delta("writer-b")
    val err = intercept[IllegalStateException] {
      ManifestCommit.commitOver(spark, root, snapshot, Map("t" -> Seq(dB)))
    }
    assert(err.getMessage.contains("already committed"))
    val m2 = ManifestCommit.currentManifest(spark, root).get
    assert(m2.version === 2L && m2.tables("t") === Seq(d0, dA))
    // Over the current manifest: the list is swapped, then dB appended.
    val v3 = ManifestCommit.commitOver(spark, root, Some(m2),
      Map("t" -> Seq(dB)), Map("t" -> Seq(dA)))
    assert(v3 === 3L)
    assert(ManifestCommit.currentManifest(spark, root).get.tables("t") === Seq(dA, dB))
    assert(ManifestCommit.readTable(spark, root, "t").get.as[String].collect().toSet ===
      Set("writer-a", "writer-b"))
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

  // ------------------------------------------------------------ backfill

  test("backfill: 30-day batches, MERGE keeps reruns idempotent") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-backfill").toString
    def fetchBatch(from: java.time.LocalDate, to: java.time.LocalDate) = {
      val days = Iterator.iterate(from)(_.plusDays(1L))
        .takeWhile(_.isBefore(to)).map(_.toString).toSeq
      days.map(d => (d, s"order-$d")).toDF("day", "payload")
    }
    val batches = Pipelines.runBackfill(spark, fetchBatch,
      java.time.LocalDate.parse("2024-01-01"), java.time.LocalDate.parse("2024-03-01"),
      batchDays = 30, root = root, table = "orders", keys = Seq("day"))
    assert(batches.length === 2)
    val total = ManifestCommit.readTable(spark, root, "orders").get.count()
    assert(total === 60L) // Jan 31 + Feb 29

    // Re-run the same range: MERGE upsert → same row count.
    Pipelines.runBackfill(spark, fetchBatch,
      java.time.LocalDate.parse("2024-01-01"), java.time.LocalDate.parse("2024-03-01"),
      batchDays = 30, root = root, table = "orders", keys = Seq("day"))
    assert(ManifestCommit.readTable(spark, root, "orders").get.count() === 60L)
  }

  private def backfillDays(from: java.time.LocalDate, to: java.time.LocalDate): Seq[String] =
    Iterator.iterate(from)(_.plusDays(1L)).takeWhile(_.isBefore(to)).map(_.toString).toSeq

  private val jan1 = java.time.LocalDate.parse("2024-01-01")
  private val feb1 = java.time.LocalDate.parse("2024-02-01")
  private val mar1 = java.time.LocalDate.parse("2024-03-01")

  /** One (day, payload) row per day of the batch. */
  private def orderBatch(payload: String => String)(a: java.time.LocalDate,
      b: java.time.LocalDate) =
    backfillDays(a, b).map(d => (d, payload(d))).toDF("day", "payload")

  /** Backfills `orders` from January 1 to `to` in 31-day batches. */
  private def backfillOrders(root: String,
      fetch: (java.time.LocalDate, java.time.LocalDate) => org.apache.spark.sql.DataFrame =
        orderBatch(d => s"order-$d"),
      to: java.time.LocalDate = mar1): Seq[(String, Long)] =
    Pipelines.runBackfill(spark, fetch, jan1, to, batchDays = 31,
      root = root, table = "orders", keys = Seq("day"))

  private def orders(root: String): Map[String, String] =
    graft.sources.ManifestCommit.readTable(spark, root, "orders").get.collect()
      .map(r => r.getAs[String]("day") -> r.getAs[String]("payload")).toMap

  /** A backfill of `drifted` over the committed January–February orders
    * is refused with `expected` in its message; the manifest version, the
    * table's columns and rows, and the cached RDDs are as they were.
    */
  private def assertDriftRefused(
      drifted: (java.time.LocalDate, java.time.LocalDate) => org.apache.spark.sql.DataFrame,
      expected: String): Unit = {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-backfill-drift").toString
    backfillOrders(root)
    def table() = {
      val df = ManifestCommit.readTable(spark, root, "orders").get
      (ManifestCommit.currentManifest(spark, root).get.version,
        df.columns.toSeq, df.orderBy("day").collect().toSeq)
    }
    val before = table()
    assert(before._2 === Seq("day", "payload") && before._3.size === 60)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet

    val e = intercept[IllegalArgumentException](backfillOrders(root, drifted))
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains(expected),
      e.getMessage)
    assert(table() === before)
    assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore,
      "the refused batch must not stay cached")
  }

  test("backfill: a rerun batch with an extra column fails loudly and leaves target and cache as they were") {
    assertDriftRefused(
      (a, b) => backfillDays(a, b).map(d => (d, s"order-$d", 1L)).toDF("day", "payload", "extra"),
      "source-only=extra")
  }

  test("backfill: a rerun batch missing a committed column fails loudly and leaves target and cache as they were") {
    // The merge reads the committed table with its stored schema, so a
    // column only the table has is seen and refused, never dropped.
    assertDriftRefused(
      (a, b) => backfillDays(a, b).toDF("day"),
      "target-only=payload")
  }

  test("backfill: a staged but unpublished delta or a failed batch leaves the previous version readable; a rerun converges") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-backfill-crash").toString
    backfillOrders(root, to = feb1)
    val january = orders(root)
    val v1 = ManifestCommit.currentManifest(spark, root).get.version
    assert(january.size === 31)

    // A crash between staging and publish: the delta is written, no
    // manifest names it, and no reader sees it.
    val torn = ManifestCommit.stageDelta(spark,
      Seq(("2024-01-15", "torn"), ("2024-02-15", "torn")).toDF("day", "payload"),
      root, "orders")
    assert(orders(root) === january)
    assert(ManifestCommit.currentManifest(spark, root).get.version === v1)

    // The next run reloads January and February with new payloads, and
    // its February fetch fails: January's batch is published, February's
    // never is, and the version before the failure stays readable.
    val v2 = (d: String) => s"v2-$d"
    val failing = (a: java.time.LocalDate, b: java.time.LocalDate) =>
      if (a == feb1) throw new IllegalStateException("source unavailable")
      else orderBatch(v2)(a, b)
    intercept[IllegalStateException](backfillOrders(root, failing))
    assert(ManifestCommit.currentManifest(spark, root).get.version === v1 + 1)
    assert(orders(root) === january.map { case (d, _) => d -> v2(d) })
    // The backfill deletes only the deltas its publish replaced; the torn
    // delta stays unreferenced until a vacuum.
    assert(deltaDirs(root) === referenced(root) + torn)

    // A rerun converges to the full result.
    backfillOrders(root, orderBatch(v2))
    val all = orders(root)
    assert(all.size === 60 && all.forall { case (d, p) => p === v2(d) })
    assert(deltaDirs(root) === referenced(root) + torn)
    ManifestCommit.vacuum(spark, root)
    assert(deltaDirs(root) === referenced(root))
    assert(orders(root) === all)
  }

  test("backfill: a MERGE batch updates matched keys, inserts new ones and keeps the rest (L5)") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-backfill-merge").toString
    val byDay = Map(
      jan1 -> Seq((1L, 10.0), (2L, 20.0)),
      jan1.plusDays(1L) -> Seq((2L, 99.0), (3L, 30.0)))
    Pipelines.runBackfill(spark, (a, _) => byDay(a).toDF("id", "bal"),
      jan1, jan1.plusDays(2L), batchDays = 1,
      root = root, table = "accounts", keys = Seq("id"))
    val out = ManifestCommit.readTable(spark, root, "accounts").get
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out === Array((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("backfill: a two-batch backfill leaves only the deltas the current manifest references") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-backfill-disk").toString
    // Another table committed before the backfill.
    val other = ManifestCommit.stageDelta(spark, Seq("a", "b").toDF("v"), root, "other")
    val v1 = ManifestCommit.commit(spark, root, Map("other" -> Seq(other)))
    assert(backfillOrders(root).size === 2)
    val live = referenced(root)
    assert(live === Set(other) + live.find(_.startsWith("orders/")).get, live)
    assert(deltaDirs(root) === live)
    assert(new java.io.File(root, "orders").list().toSet ===
      live.filter(_.startsWith("orders/")).map(_.stripPrefix("orders/")))
    // No whole-table sibling (`.tmp`, `.old`) beside the table.
    assert(new java.io.File(root).list().toSet === Set("_graft_manifest", "orders", "other"))
    // The backfill keeps the manifest history: the other table's earlier
    // version is still readable.
    assert(ManifestCommit.versions(spark, root) === Seq(v1, v1 + 1, v1 + 2))
    assert(ManifestCommit.readTableAt(spark, root, "other", v1).get
      .as[String].collect().toSet === Set("a", "b"))
  }

  /** Two cycles of customers 1–3 then 4–5 into a new root. Each cycle
    * window infers its own JSON schema, so the first delta lacks `debt`
    * and the second carries it.
    */
  private def twoWindowCustomers(): String = {
    val root = Files.createTempDirectory("graft-backfill-windows").toString
    val spec = graft.core.SchemaRegistry.misaCustomers
    val withDebt = customerDocs(4 to 5).map(_.stripSuffix("}") + ""","debt":"7"}""")
    for (docs <- Seq(customerDocs(1 to 3), withDebt))
      Pipelines.runIncrementalCycleAtomic(spark,
        Map(spec.name -> fetcher(docs)), Seq.empty, root, cutoff)
    root
  }

  test("readTable and readTableAt carry every column any cycle window stored") {
    import graft.sources.ManifestCommit
    val root = twoWindowCustomers()
    val name = graft.core.SchemaRegistry.misaCustomers.name
    // A third window stores `debt_limit`, which no other delta carries:
    // a read that takes its columns from any one delta's footer misses
    // `debt` or `debt_limit`, whichever delta it picks.
    val (_, v) = Pipelines.runIncrementalCycleAtomic(spark,
      Map(name -> fetcher(customerDocs(6 to 7).map(_.stripSuffix("}") + ""","debt_limit":"9"}"""))),
      Seq.empty, root, cutoff)
    for (t <- Seq(ManifestCommit.readTable(spark, root, name),
        ManifestCommit.readTableAt(spark, root, name, v))) {
      val rows = t.get.select("id", "debt", "debt_limit")
        .as[(Long, Option[Double], Option[Double])].collect()
      assert(rows.map(r => r._1 -> (r._2, r._3)).toMap === (1L to 7L).map(i => i ->
        ((if (i == 4 || i == 5) Some(7.0) else None), (if (i >= 6) Some(9.0) else None))).toMap)
    }
  }

  test("backfill: a batch missing a column only some cycle windows carried fails loudly and publishes nothing") {
    import graft.sources.ManifestCommit
    val root = twoWindowCustomers()
    val spec = graft.core.SchemaRegistry.misaCustomers
    val before = ManifestCommit.currentManifest(spark, root).get
    assert(before.tables(spec.name).size === 2)

    val jun1 = java.time.LocalDate.parse("2024-06-01")
    val e = intercept[IllegalArgumentException](Pipelines.runBackfill(spark,
      (_, _) => Pipelines.shapeEndpoint(spark, spec.name, fetcher(customerDocs(Seq(1))),
        cutoff, graft.operators.EtlMeta.newBatch("backfill")).get,
      jun1, jun1.plusDays(1L), batchDays = 1, root = root, table = spec.name,
      keys = spec.keys))
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains("target-only=debt "),
      e.getMessage)
    assert(ManifestCommit.currentManifest(spark, root).get === before)
    assert(deltaDirs(root) === referenced(root))
  }

  test("backfill then cycle: the next cycle appends only the keys the backfill did not commit") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft-backfill-cycle").toString
    val spec = graft.core.SchemaRegistry.misaCustomers
    // customerDocs(i) was modified on 2024-06-0i.
    val jun1 = java.time.LocalDate.parse("2024-06-01")
    def modified(i: Int) = jun1.plusDays((i - 1).toLong)
    val backfilled = Pipelines.runBackfill(spark,
      (a, b) => Pipelines.shapeEndpoint(spark, spec.name,
        fetcher(customerDocs((1 to 5).filter(i => !modified(i).isBefore(a) && modified(i).isBefore(b)))),
        cutoff, graft.operators.EtlMeta.newBatch("backfill")).get,
      jun1, modified(6), batchDays = 3, root = root, table = spec.name, keys = spec.keys)
    assert(backfilled.map(_._2) === Seq(3L, 2L))

    // The cycle redelivers ids 3–5 beside the new ids 6 and 7.
    val (report, _) = Pipelines.runIncrementalCycleAtomic(spark,
      Map(spec.name -> fetcher(customerDocs(3 to 7))), Seq.empty, root, cutoff)
    assert(report.endpoints.find(_.endpoint == spec.name).get ===
      Pipelines.EndpointResult(spec.name, 5L, 2L))
    val ids = ManifestCommit.readTable(spark, root, spec.name).get
      .select("id").as[Long].collect().toSeq
    assert(ids.sorted === (1L to 7L))
  }
}
