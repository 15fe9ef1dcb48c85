package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query against SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...}}.
  *
  * Queries are forced through the "noop" sink, not count(): under count()
  * Catalyst prunes projections and eliminates sorts, so projection-heavy
  * queries would measure as scan-only. Noop computes every output column.
  *
  * Each query runs SPARK_GRAFT_BENCH_ITERS times (default 2) and reports
  * the MINIMUM: roughly half of a single cold run is one-time codegen
  * compilation, which made per-query times swing ±3× run-to-run and
  * masked real regressions. The min of two executions measures the
  * steady-state plan; caches are still cleared between every execution,
  * so the repeat re-reads the source rather than timing RAM.
  *
  * The artifact is self-diagnosing: "iters" records EVERY iteration's
  * timing (not just the min), and "sentinel" records a fixed pure-CPU
  * micro-query re-timed at the start and after every 10th query. Min-of-N
  * damps one-off codegen noise but cannot detect a SUSTAINED environmental
  * slowdown (both iterations slow); a flat sentinel alongside a slow query
  * says "real regression", a sentinel that rises in the same stretch says
  * "perturbed run" — distinguishable from the JSON alone, no re-run needed.
  */
object Bench {
  /** Fixed-cost CPU-bound probe: no file I/O, no shuffle, no cache
    * interaction with the queries under test. Any drift in its timing
    * across the suite measures the ENVIRONMENT (CPU steal, thermal,
    * memory thrash), never the code being benchmarked.
    */
  private def sentinelSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 32)
      .selectExpr("sum(id * 3 + 1) as s", "count(*) as c")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative stop-the-world GC milliseconds across all collectors.
    * Recorded as a per-query DELTA: the r8/r9 inflation pattern (flat
    * arithmetic sentinel + slow allocation-heavy queries mid-suite) is
    * the signature of heap debris — accumulated broadcast blocks and
    * codegen classes — not CPU contention, and the sentinel cannot see
    * it because `sum(id*3+1)` allocates nothing per row. gc_ms beside
    * each timing makes "12s query, 9s of it GC" readable off the JSON.
    */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** 1-minute load average from /proc/loadavg — the environment
    * fingerprint the r8 postmortem lacked: a contended host shows
    * load >> the benchmark's own core count while the sentinel drifts,
    * and the two together separate "perturbed run" from "regression"
    * without any cross-run comparison. -1.0 when unreadable (non-Linux).
    */
  private def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Live heap MB at a checkpoint — sampled right after the per-query
    * System.gc(), so it reads the RESIDUAL live set: broadcast blocks,
    * codegen classes and cache metadata that survived collection. A
    * rising staircase across the suite is the r10 "quiet-window drift"
    * signature (heap debris accumulating in one JVM over 180+ queries)
    * made visible in the artifact itself; a flat line under slow queries
    * says the drift is data, not debris.
    */
  private def heapUsedMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** Default artifact path anchored to the repo root (nearest ancestor of
    * CWD containing build.sbt), not the raw CWD: a full-suite run
    * launched from anywhere inside the repo must update THE git-tracked
    * snapshot, not scatter stray bench/ dirs.
    */
  private def defaultBenchOut(): java.io.File = {
    var d = new java.io.File(".").getCanonicalFile
    while (d != null && !new java.io.File(d, "build.sbt").isFile)
      d = d.getParentFile
    new java.io.File(if (d != null) d else new java.io.File(".").getCanonicalFile,
      "bench/bench-full.json")
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // Untimed warmup: session/codegen/file-index startup otherwise lands
    // entirely on the alphabetically-first query.
    graft.core.Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    // Optional args select a query subset (fast single-query timing loops).
    // Unknown names fail loudly — a typo must not yield a vacuous
    // all-green zero-second run.
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    require(iters >= 1, s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $iters")
    // Sentinel checkpoints: key = "start" or the name of the last query
    // completed before the probe ran, value = probe seconds. Ordered.
    val sentinels = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val loads = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val heaps = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    sentinelSec(spark) // untimed: first probe pays one-time codegen; recording
                       // it would make every run's baseline look "recovered"
    sentinels += ("start" -> sentinelSec(spark))
    loads += ("start" -> loadAvg1m())
    heaps += ("start" -> heapUsedMb())
    val ordered = selected.toSeq.sortBy(_._1)
    val results = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      def runOnce(): (Double, Boolean, Long) = {
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        // Queries cache multiply-referenced frames session-scoped. Across
        // 75 sequential queries those blocks accumulate until storage
        // pressure evicts the CURRENT query's cache mid-run (q46 measured
        // 12s under churn vs 1.4s clean) — and a repeat iteration reading
        // its own cache would time RAM, not the plan. Clear between EVERY
        // execution: per-execution isolation is the honest measurement.
        spark.catalog.clearCache()
        ((System.nanoTime() - t0) / 1e9, ok, gcMillis() - gc0)
      }
      // Measurement isolation at the QUERY boundary (the JMH posture):
      // broadcast blocks and codegen classes from PRIOR queries stay
      // live until their driver-side references are collected —
      // ContextCleaner only unpersists a broadcast after the JVM GCs
      // the variable. Without a forced collection the debt lands as
      // stop-the-world pauses inside whoever allocates next, which is
      // how r8's contiguous q75–q89 inflation block formed (and this
      // round's q119 10–17s) while the allocation-free sentinel stayed
      // flat. Once per query, not per iteration: a full GC also unloads
      // cold codegen nmethods, so collecting between iterations forces
      // iterative queries (BPE, PageRank) to re-JIT mid-measurement —
      // measured +1–4s each when gc() ran inside the iteration loop.
      System.gc()
      var timings = (1 to iters).map(_ => runOnce())
      // Variance guard: when the successful iterations disagree by >2×
      // (the r8 contention signature — q124 swung 31s→2.9s), take ONE
      // tiebreak iteration so the min is measured from three samples
      // instead of two. The full per-iteration record stays in "iters"
      // and the max/min ratio in "spread" so the disagreement is
      // auditable from the JSON alone.
      def okT = timings.collect { case (t, true, _) => t }
      val spread = okT.size >= 2 && okT.max / okT.min.max(1e-9) > 2.0
      if (spread && iters >= 2) timings = timings :+ runOnce()
      if ((idx + 1) % 10 == 0 || idx == ordered.size - 1) {
        sentinels += (name -> sentinelSec(spark))
        loads += (name -> loadAvg1m())
        heaps += (name -> heapUsedMb())
      }
      // Headline = MINIMUM over SUCCESSFUL iterations, ALWAYS. The min is
      // the steady-state plan cost; anything above it is codegen warmup,
      // GC debt, or host contention — environment, not the query. The r10
      // driver window proved the alternative wrong: a median-under-spread
      // rule recorded q172 at 26.3s when its own min-iter was 7.5s (quiet
      // window: 2.5s), letting loadavg-16 host noise inflate the artifact
      // the 2× perf gate consumes by ~10× on single queries. Spread and
      // the full iteration record remain as diagnostic fields ("spread",
      // "iters", "gc_ms") — contention stays auditable without being the
      // headline. A fast-failing iteration (transient OOM, etc.) must not
      // report its crash latency as the measurement; a query with zero
      // successes keeps the overall min purely so the negated value stays
      // non-zero and parseable.
      val okTimings = okT
      val best =
        if (okTimings.isEmpty) timings.map(_._1).min
        else okTimings.min
      (name, best, timings, timings.forall(_._2))
    }
    // A crashed query must be machine-detectable from the JSON alone:
    // list it in "failed" AND negate its timing (per-iteration too).
    def perQuery(f: Seq[(Double, Boolean, Long)] => String) =
      Json.obj(results.map { case (k, _, ts, _) => k -> f(ts) })
    def signed(t: Double, ok: Boolean) = (if (ok) t else -t).toString
    val total = results.map(_._2).sum
    val line = Json.obj(Seq(
      "metric" -> Json.str("total"),
      "value" -> total.toString,
      "unit" -> Json.str("sec"),
      "queries" -> Json.obj(results.map { case (k, v, _, ok) => k -> signed(v, ok) }),
      "iters" -> perQuery(ts => Json.arr(ts.map { case (t, ok, _) => signed(t, ok) })),
      "gc_ms" -> perQuery(ts => Json.arr(ts.map(_._3.toString))),
      // Per-query spread ratio (max/min over successful iterations), the
      // one-number contention attribution: spread ≈ 1 + a slow reported
      // time = real regression; spread >> 1 = environmental perturbation
      // (the r9 q119/q139 signature) — readable without diffing "iters".
      "spread" -> perQuery { ts =>
        val ok = ts.collect { case (t, true, _) => t }
        val r = if (ok.size >= 2) ok.max / ok.min.max(1e-9) else 1.0
        f"$r%.2f"
      },
      "sentinel" -> Json.obj(sentinels.map { case (k, v) => k -> v.toString }),
      "loadavg" -> Json.obj(loads.map { case (k, v) => k -> v.toString }),
      "heap_mb" -> Json.obj(heaps.map { case (k, v) => k -> v.toString }),
      "failed" -> Json.arr(results.collect { case (k, _, _, false) => Json.str(k) }),
      "sf" -> Json.str(sfDir)))
    println(line)
    // The driver's artifact keeps only the tail of stdout, which truncated
    // r7's per-query times to the last ~30 queries. Persist the FULL line
    // to a git-tracked file (target/ is ignored) so every round's snapshot
    // carries q01..qNN timings for diffing. Only full-suite runs overwrite
    // it — a single-query timing loop must not clobber the round artifact.
    if (args.isEmpty) {
      val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(new java.io.File(_)).getOrElse(defaultBenchOut())
      Option(out.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(line) finally w.close()
    }
    spark.stop()
  }
}
