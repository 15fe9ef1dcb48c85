package perfbench

/** Per-layer metrics of a traced run, which traces every timed operation:
  * means per operation unless the name says otherwise. Every name in
  * [[Declared]] is reported on every workload; one that does not apply to
  * the workload reads 0.
  */
object Layers {

  /** Timed operations a growth ratio needs: two in each quarter. Fewer
    * leave it unresolved (0).
    */
  val GrowthMinOps = 8

  val Declared: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.fixed_overhead_frac", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.records_read", "jvm.gc_s", "jvm.cpu_s",
    "sql.analysis_s", "sql.optimization_s", "sql.planning_s", "sql.executions") ++
    Tracer.Modules.flatMap(m => Seq(s"$m.exec_s", s"$m.executions")) ++ Seq(
    "driver.self_s", "trace.accounted_frac", "trace_overhead_frac",
    "fetch.s", "fetch.pages", "fetch.records",
    "manifest.versions", "manifest.deltas", "manifest.files", "manifest.bytes",
    "stored_bytes_per_row", "pipelines.rows_out_per_record_read",
    "etl.redelivery_drop_ratio", "curation.accept_ratio",
    "etl.cycle_growth", "curation.batch_growth") ++
    Main.CorpusQueries.map(q => s"queries.${q}_s")

  def unit(name: String): String =
    if (name.endsWith("_bytes") || name == "manifest.bytes") "B"
    else if (name.endsWith("_s") || name == "fetch.s") "s"
    else if (name == "stored_bytes_per_row") "B/row"
    else if (name.endsWith("_frac") || name.endsWith("_ratio") || name.endsWith("_growth") ||
      name.endsWith("per_record_read")) "ratio"
    else "count"

  def metrics(w: Workload, ops: Seq[Main.Op], spans: Seq[Tracer.OpSpan],
      stats: Map[String, Double], perQuery: Map[String, Double], cores: Int,
      fetch: (Long, Long, Long), untracedP50: Option[Double]): Map[String, (Double, String)] = {
    val n = spans.size.max(1).toDouble
    def per(f: Tracer.OpSpan => Double) = spans.map(f).sum / n
    val modS = spans.flatMap(_.moduleS.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val modN = spans.flatMap(_.moduleCount.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val times = ops.filter(_.ok).map(_.seconds)
    val growth = if (times.size >= GrowthMinOps)
      Stats.median(times.takeRight(times.size / 4)) / Stats.median(times.take(times.size / 4))
    else 0.0
    val items = ops.filter(_.ok).map(_.items).sum.toDouble
    val inputRecords = spans.map(_.inputRecords).sum.toDouble
    val opsN = ops.size.max(1).toDouble
    val base: Map[String, Double] = Map(
      "spark.jobs" -> per(_.jobs), "spark.stages" -> per(_.stages), "spark.tasks" -> per(_.tasks),
      "spark.task_run_s" -> per(_.taskRunS), "spark.task_cpu_s" -> per(_.taskCpuS),
      "spark.fixed_overhead_frac" -> per(s => 1.0 - s.taskRunS / (s.wallS * cores).max(1e-9)),
      "spark.shuffle_read_bytes" -> per(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> per(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> per(_.spillBytes.toDouble),
      "spark.records_read" -> per(_.recordsRead.toDouble),
      "jvm.gc_s" -> ops.map(_.gcS).sum / opsN,
      "jvm.cpu_s" -> ops.map(_.cpuS).sum / opsN,
      "sql.analysis_s" -> per(_.analysisS), "sql.optimization_s" -> per(_.optimizationS),
      "sql.planning_s" -> per(_.planningS), "sql.executions" -> per(_.sqlExecutions),
      "driver.self_s" -> per(_.selfS),
      "trace.accounted_frac" -> per(s => (s.selfS + s.moduleS.values.sum) / s.wallS.max(1e-9)),
      "trace_overhead_frac" -> untracedP50.filter(_ > 0 && times.nonEmpty)
        .map(Stats.median(times) / _ - 1.0).getOrElse(0.0),
      "fetch.s" -> fetch._1 / 1e9 / opsN, "fetch.pages" -> fetch._2 / opsN,
      "fetch.records" -> fetch._3 / opsN) ++
      Tracer.Modules.flatMap(m => Seq(s"$m.exec_s" -> modS.getOrElse(m, 0.0) / n,
        s"$m.executions" -> modN.getOrElse(m, 0).toDouble / n)) ++
      perQuery.map { case (k, v) => s"queries.${k}_s" -> v } ++
      stats
    val byWorkload: Map[String, Double] = w match {
      case _: EtlCycles => Map("etl.cycle_growth" -> growth,
        "pipelines.rows_out_per_record_read" -> (if (inputRecords > 0) items / inputRecords else 0.0))
      case _: CurationStreamW => Map("curation.batch_growth" -> growth)
      case _ => Map.empty
    }
    (base ++ byWorkload).map { case (k, v) => k -> (v, unit(k)) }
  }

  def spanJson(s: Tracer.OpSpan): Json.Raw = {
    def child(c: Tracer.Span): Json.Raw = Json.obj("name" -> c.name, "module" -> c.module,
      "start_ms" -> c.start, "end_ms" -> c.end, "children" -> c.children.map(child))
    Json.obj("name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "self_s" -> s.selfS,
      "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks, "task_run_s" -> s.taskRunS,
      "task_cpu_s" -> s.taskCpuS, "children" -> s.children.map(child))
  }
}
