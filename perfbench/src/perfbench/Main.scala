package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Product-path benchmark of the graft engine. One run = one workload:
  * set-up repeated [[SetupReps]] times (median reported as `setup_s`),
  * operations timed one at a time for `--seconds`, then untimed
  * correctness checks. The last stdout line is the result JSON; the full
  * record of the run goes to `--out`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> --fingerprints <file>
  *   [--untraced-op-p50 <s>] [--record-fingerprints] [--env key=value]...
  *
  * A traced run traces every timed operation; `--untraced-op-p50` is the
  * `op_p50_s` of an untraced run of the same workload, against which it
  * reports `trace_overhead_frac`.
  */
object Main {

  /** Set-ups per run. The first pays JVM and code-generation warm-up, so
    * their median (with two, the mean) keeps half of that warm-up in
    * `setup_s`. Two, not more, so that a run of each workload fits the
    * comparison budget (see README).
    */
  val SetupReps = 2

  /** The queries of `reference_queries`. */
  val ReferenceQueries: Seq[String] = Seq("q01_pricing_summary", "q02_load_stats",
    "q03_order_flatten", "q04_prefix_flatten", "q05_safe_cast", "q06_string_clamp",
    "q07_etl_stamp", "q08_column_intersect", "q09_join_enrich", "q10_semi_join",
    "q11_anti_join", "q12_merge_upsert", "q13_retention", "q14_incremental_failopen",
    "q15_staging_summary", "q16_quality_gate", "q17_mart_daily", "q18_window_rank",
    "q19_hourly_events", "q20_validation")
  /** The corpus suite run by `corpus_queries`: one query per operator layer
    * the write paths do not reach — Similarity (q129), Stats (q122), Bpe
    * (q126), Graphs (q121) and Multimodal (q169). q129 holds a parked
    * `min_by(struct)` SortAggregate, and q169 the n-gram pair aggregation
    * and duplicate clusters of Dedup.
    */
  val CorpusQueries: Seq[String] = Seq("q129_semantic_dedup", "q122_ks_drift",
    "q126_bpe_vocab", "q121_pagerank", "q169_crossmodal_clusters")
  /** `corpus_queries_full`: the suite above plus the other dedup, ANN,
    * k-means, survivor and BPE queries.
    */
  val CorpusQueriesFull: Seq[String] = CorpusQueries ++ Seq("q36_dedup_clusters",
    "q35_ann_ivf", "q80_kmeans_refine", "q155_quality_survivor", "q153_pq_ann",
    "q130_bpe_compression")
  /** The layer of an execution a corpus query's noop write triggers: the
    * operator module the query is built around. Other queries' writes count
    * as `queries`.
    */
  val QueryLayer: Map[String, String] = Map(
    "q36_dedup_clusters" -> "operators.Dedup", "q155_quality_survivor" -> "operators.Dedup",
    "q129_semantic_dedup" -> "operators.Similarity", "q35_ann_ivf" -> "operators.Similarity",
    "q80_kmeans_refine" -> "operators.Similarity", "q153_pq_ann" -> "operators.Similarity",
    "q122_ks_drift" -> "operators.Stats", "q126_bpe_vocab" -> "operators.Bpe",
    "q121_pagerank" -> "operators.Graphs", "q169_crossmodal_clusters" -> "operators.Multimodal")
  /** The tables the corpus queries read. */
  val CorpusTables: Set[String] = Set("documents", "embeddings", "lineitem")

  final case class Op(label: String, seconds: Double, items: Long, gcS: Double,
      cpuS: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val phases = mutable.LinkedHashMap[String, Long](
      "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session" -> System.currentTimeMillis())

    val record = if (opts.contains("record-fingerprints")) Some(new java.io.File(opts("fingerprints"))) else None
    val fingerprints = Fingerprint.load(new java.io.File(opts("fingerprints")))
    val w: Workload = workload match {
      case "etl_cycles" => new EtlCycles(spark, seed, work)
      case "curation_stream" => new CurationStreamW(spark, seed, work)
      case "reference_queries" => new QuerySuite(spark, seed, work, ReferenceQueries,
        Gen.TableShape(), Gen.Tables, fingerprints, record)
      case "corpus_queries" => new QuerySuite(spark, seed, work, CorpusQueries,
        Gen.TableShape(), CorpusTables, fingerprints, record)
      case "corpus_queries_full" => new QuerySuite(spark, seed, work, CorpusQueriesFull,
        Gen.TableShape(), CorpusTables, fingerprints, record)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val steal0 = stealJiffies()
    val setupS = (0 until SetupReps).map(rep => timed(w.setup(rep)))
    val warmS = timed(w.warm())
    val envStart = environment(spark, sentinel = true)

    phases("setup") = System.currentTimeMillis()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer[Op]()
    val spans = mutable.ArrayBuffer[Tracer.OpSpan]()
    val fetch0 = Fetch.snapshot()
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // At least two operations, so a median never rests on one sample.
    tracer.foreach(t => w.enterStep = t.enterStep)
    while (ops.size < 2 || elapsed < seconds) {
      val i = ops.size
      val (label, body) = w.prepare(i)
      tracer.foreach(_.attach(w.selfModule(label)))
      val gc0 = gcSeconds()
      val cpu0 = cpuSeconds()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (items, ok) =
        try (body(), true)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $label failed: $e")
          (0L, false)
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val wall1 = System.currentTimeMillis()
      val gcS = gcSeconds() - gc0
      val cpuS = cpuSeconds() - cpu0
      tracer.foreach { t =>
        t.detach()
        spans += t.span(label, wall0, wall1)
      }
      ops += Op(label, dt, items, gcS, cpuS, ok)
    }
    val fetch1 = Fetch.snapshot()

    phases("loop") = System.currentTimeMillis()
    val checks =
      try w.checks()
      catch { case e: Exception => Seq(Check("checks completed", ok = false, e.toString)) }
    val stats = w.stats()
    phases("checks") = System.currentTimeMillis()
    val envEnd = environment(spark, sentinel = false)
    val stealS = (stealJiffies() - steal0) / 100.0
    val heapMb = liveHeapMb()
    spark.stop()
    phases("stop") = System.currentTimeMillis()

    val failedOps = ops.count(!_.ok) + checks.count(!_.ok)
    val attempted = ops.size + checks.size
    val okOps = ops.filter(_.ok)
    val times = okOps.map(_.seconds).toIndexedSeq
    val (tail, tailPct) = Stats.tail(times)
    val items = okOps.map(_.items).sum.toDouble
    val perQuery = w match {
      case q: QuerySuite => q.perQuery
      case _ => Map.empty[String, Double]
    }
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("op_p50_s", Stats.median(times), "s"),
      ("items_per_s", items / times.sum.max(1e-9), "1/s"),
      ("live_heap_mb", heapMb, "MB"))

    // The names each workload's own metrics carry in the run record.
    val named: Seq[(String, Double, String)] = (workload match {
      case "etl_cycles" => Seq(("cycle_p50_s", Stats.median(times), "s"), ("cycle_tail_s", tail, "s"),
        ("staged_rows_per_s", items / times.sum.max(1e-9), "rows/s"))
      case "curation_stream" => Seq(("batch_p50_s", Stats.median(times), "s"), ("batch_tail_s", tail, "s"),
        ("docs_per_s", items / times.sum.max(1e-9), "docs/s"))
      case _ => Seq(("suite_s", perQuery.values.sum, "s"),
        ("query_p50_s", Stats.median(perQuery.values.toSeq), "s"))
    }) ++ stats.get("stored_bytes_per_row").map(v => ("stored_bytes_per_row", v, "B/row")) :+
      (("fail_ratio", failedOps.toDouble / attempted, "ratio"))

    val untracedP50 = opts.get("untraced-op-p50").map(_.toDouble)
    val layer = Layers.metrics(w, ops.toSeq, spans.toSeq, stats, perQuery, cores,
      (fetch1._1 - fetch0._1, fetch1._2 - fetch0._2, fetch1._3 - fetch0._3), untracedP50)

    val result = Json.obj(
      "correct" -> (failedOps == 0),
      "attempted" -> attempted,
      "failed" -> failedOps,
      "metrics" -> Json.obj((if (trace) Layers.Declared.map(n => n -> layer.getOrElse(n, (0.0, Layers.unit(n))))
        else e2e.map { case (n, v, u) => n -> (v, u) }).map { case (n, (v, u)) =>
          n -> Json.obj("value" -> v, "unit" -> u) }: _*))

    val runRecord = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "result" -> result,
      "end_to_end" -> Json.obj(e2e.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "workload_metrics" -> Json.obj(named.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "tail_percentile" -> tailPct,
      "growth_resolved" -> (times.size >= Layers.GrowthMinOps),
      "untraced_op_p50_s" -> untracedP50.getOrElse(null),
      "samples" -> times.size,
      "setup_reps_s" -> setupS,
      "phase_end_ms" -> Json.obj(phases.toSeq.map { case (k, v) => k -> (v - phases("jvm_start")) }: _*),
      "warmup_s" -> warmS,
      "layers" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "inputs" -> inputsRecord(w),
      "operations" -> ops.map(o => Json.obj("label" -> o.label, "s" -> o.seconds,
        "items" -> o.items, "gc_s" -> o.gcS, "cpu_s" -> o.cpuS, "ok" -> o.ok)),
      "spans" -> spans.map(Layers.spanJson),
      "checks" -> checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "environment" -> Json.obj("start" -> envStart, "end" -> envEnd,
        "steal_s" -> stealS,
      "run" -> Json.obj(opts.collect { case (k, v) if k.startsWith("env.") => k.drop(4) -> v }.toSeq: _*)))
    opts.get("out").foreach { p =>
      val f = new java.io.File(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      val out = new java.io.PrintWriter(f, "UTF-8")
      try out.println(runRecord) finally out.close()
    }

    println(s"workload $workload seed $seed: ${ops.size} operations, ${times.size} timed ok, " +
      s"tail = p$tailPct, ${checks.count(_.ok)}/${checks.size} checks passed")
    checks.filterNot(_.ok).foreach(c => println(s"CHECK FAILED ${c.name}: ${c.detail}"))
    (e2e ++ named).foreach { case (n, v, u) => println(f"$n%-22s $v%14.6f $u") }
    if (trace) layer.toSeq.sortBy(_._1).foreach { case (n, (v, u)) => println(f"$n%-46s $v%16.6f $u") }
    println(result)
    sys.exit(if (failedOps > 0) 1 else 0)
  }

  private def inputsRecord(w: Workload): Json.Raw = w match {
    case e: EtlCycles => Json.obj("fresh_per_window" -> e.shape.fresh,
      "redelivered_per_window" -> e.shape.redelivered, "redelivery_share" -> e.shape.redeliveryShare,
      "malformed_per_window" -> e.shape.malformed, "malformed_share" -> e.shape.malformedShare,
      "tiktok_orders_per_window" -> (e.shape.tiktokFresh + e.shape.tiktokRedelivered),
      "tiktok_redelivered_per_window" -> e.shape.tiktokRedelivered)
    case c: CurationStreamW => Json.obj("docs_per_batch" -> c.shape.docs,
      "short_per_batch" -> c.shape.short, "in_batch_copies_per_batch" -> c.shape.inBatchDups,
      "corpus_copies_per_batch" -> c.shape.corpusDups, "near_dup_share" -> c.shape.nearDupShare,
      "hll_compact_every" -> c.HllCompactEvery)
    case q: QuerySuite => Json.obj("queries" -> q.queries, "dataset_seed" -> Gen.DatasetSeed,
      "shape" -> q.shape.toString, "tables" -> q.tables.toSeq.sorted)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val m = mutable.LinkedHashMap[String, String]()
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "record-fingerprints") { m(k) = "1"; i += 1 }
      else if (k == "env") { val kv = args(i + 1).split("=", 2); m("env." + kv(0)) = kv(1); i += 2 }
      else { m(k) = args(i + 1); i += 2 }
    }
    Seq("workload", "seed", "seconds", "trace", "work", "fingerprints").foreach(k =>
      require(m.contains(k), s"missing --$k"))
    m.toMap
  }

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU time of this process, all threads; unlike wall time it does not
    * grow when the host takes the CPU away (steal).
    */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Live heap after full collections. The pauses let Spark's cleaner
    * drop the broadcasts and shuffles the first collection found dead;
    * two rounds leave them live in some runs.
    */
  private def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** `Bench`'s pure-CPU sentinel: no I/O, no shuffle, so its drift
    * measures the host, not the code.
    */
  private def sentinelS(spark: SparkSession): Double = timed {
    spark.range(0, 20000000L, 1, 32).selectExpr("sum(id * 3 + 1) as s", "count(*) as c")
      .write.format("noop").mode("overwrite").save()
  }

  /** CPU time the hypervisor gave to other guests (the `steal` column of
    * /proc/stat, in jiffies); -1 where unreadable.
    */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    } catch { case _: Exception => -1L }

  private def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim finally src.close()
    } catch { case _: Exception => "unknown" }

  private def environment(spark: SparkSession, sentinel: Boolean): Json.Raw = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "loadavg" -> loadAvg(),
    "sentinel_s" -> (if (sentinel) sentinelS(spark) else null),
    "java" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "time_ms" -> System.currentTimeMillis())
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest whole percentile with at least 10 samples above it, and
    * its value; the maximum (p100) when there are fewer than 11 samples.
    */
  def tail(xs: Seq[Double]): (Double, Int) =
    if (xs.isEmpty) (0.0, 100)
    else if (xs.size < 11) (xs.max, 100)
    else {
      val s = xs.sorted
      val pct = (100 * (s.size - 10) / s.size)
      (s(math.min(s.size - 1, math.ceil(pct / 100.0 * s.size).toInt - 1).max(0)), pct)
    }
}

/** Just enough JSON for the run record. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(s: String) {
    override def toString: String = s
  }

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case x => str(x.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
