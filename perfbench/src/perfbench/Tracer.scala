package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the program: a SparkListener (jobs,
  * stages, tasks), the SQL-execution events it also receives, and a
  * QueryExecutionListener (planning phases). Registered only around the
  * timed operations of a traced run; everything is kept in memory and
  * turned into spans when the run ends.
  *
  * Span tree per operation: operation → SQL execution (or a job that ran
  * outside any execution) → job. An execution belongs to the module of
  * the innermost `graft.*` frame in its call site, i.e. the file that
  * called the action, or to the operation's own layer (see [[attach]])
  * when the benchmark called the action itself; jobs reach their execution
  * through `spark.sql.execution.id`, because their own call sites often
  * name a broadcast or AQE thread instead.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val execs = mutable.Map[Long, Exec]()
  private val jobs = mutable.Map[Int, Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val phases = mutable.ArrayBuffer[Phases]()
  private val stagesDone = mutable.ArrayBuffer[Long]()
  @volatile private var selfModule = ""

  /** Starts listening for one operation, whose own layer is `selfModule`. */
  def attach(selfModule: String): Unit = {
    this.selfModule = selfModule
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Moves the operation's own layer to that of its next step, once the
    * events of the steps before have been attributed.
    */
  def enterStep(module: String): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    selfModule = module
  }

  /** Waits until every event of the traced operation has been delivered,
    * then stops listening.
    */
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execs(e.executionId) = Exec(e.executionId, e.rootExecutionId.getOrElse(e.executionId),
        e.time, e.time, module(e.details, selfModule))
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(e.executionId).foreach(_.end = e.time)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, exec, e.time, e.time, module(site, selfModule))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases
    def ms(k: String) = ps.get(k).map(_.durationMs).getOrElse(0L)
    val start = ps.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    synchronized {
      phases += Phases(start, ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING))
    }
  }

  /** The span tree and per-layer counts of one traced operation that ran
    * over the wall-clock interval [start, end] (epoch millis).
    */
  def span(op: String, start: Long, end: Long): OpSpan = synchronized {
    def in(t: Long) = t >= start && t <= end
    val opExecs = execs.values.filter(e => in(e.start)).toSeq
    val roots = opExecs.filter(e => e.root == e.id || !execs.contains(e.root))
    val rootOf = opExecs.map(e => e.id -> (if (execs.contains(e.root)) e.root else e.id)).toMap
    val opJobs = jobs.values.filter(j => in(j.start)).toSeq
    val bareJobs = opJobs.filter(j => j.exec.forall(x => !execs.contains(x)))
    val children =
      roots.sortBy(_.start).map { e =>
        Span(s"execution ${e.id}", e.module, e.start, e.end,
          opJobs.filter(j => j.exec.flatMap(rootOf.get).contains(e.id))
            .sortBy(_.start).map(j => Span(s"job ${j.id}", e.module, j.start, j.end, Nil)))
      } ++ bareJobs.sortBy(_.start).map(j =>
        Span(s"job ${j.id}", j.module, j.start, j.end, Nil))
    val opTasks = tasks.filter(t => in(t.finish))
    val opPhases = phases.filter(p => in(p.start))
    OpSpan(op, start, end, children.sortBy(_.start),
      jobs = opJobs.size, stages = stagesDone.count(in), tasks = opTasks.size,
      taskRunS = opTasks.map(_.runMs).sum / 1e3,
      taskCpuS = opTasks.map(_.cpuNs).sum / 1e9,
      shuffleReadBytes = opTasks.map(_.shuffleRead).sum,
      shuffleWriteBytes = opTasks.map(_.shuffleWrite).sum,
      spillBytes = opTasks.map(_.spill).sum,
      recordsRead = opTasks.map(t => t.recordsRead + t.shuffleRecordsRead).sum,
      inputRecords = opTasks.map(_.recordsRead).sum,
      sqlExecutions = opExecs.size,
      analysisS = opPhases.map(_.analysisMs).sum / 1e3,
      optimizationS = opPhases.map(_.optimizationMs).sum / 1e3,
      planningS = opPhases.map(_.planningMs).sum / 1e3)
  }
}

object Tracer {

  final case class Exec(id: Long, root: Long, start: Long, var end: Long, module: String)
  final case class Job(id: Int, exec: Option[Long], start: Long, var end: Long, module: String)
  final case class Task(finish: Long, runMs: Long, cpuNs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, recordsRead: Long, shuffleRecordsRead: Long)
  final case class Phases(start: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  final case class Span(name: String, module: String, start: Long, end: Long,
      children: Seq[Span])

  /** One traced operation: its child spans and the Spark counters of the
    * work it triggered. `self_s` is the wall time no child span covers.
    */
  final case class OpSpan(name: String, start: Long, end: Long, children: Seq[Span],
      jobs: Int, stages: Int, tasks: Int, taskRunS: Double, taskCpuS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      recordsRead: Long, inputRecords: Long, sqlExecutions: Int, analysisS: Double,
      optimizationS: Double, planningS: Double) {
    def wallS: Double = (end - start) / 1e3
    def selfS: Double = wallS - covered(children.map(c => (c.start max start, c.end min end))) / 1e3
    def moduleS: Map[String, Double] =
      children.groupBy(_.module).map { case (m, cs) =>
        m -> cs.map(c => ((c.end min end) - (c.start max start)).max(0L)).sum / 1e3 }
    def moduleCount: Map[String, Int] = children.groupBy(_.module).map { case (m, cs) => m -> cs.size }
  }

  /** Milliseconds of the union of the intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) { total += (curE - curS).max(0L); curS = s; curE = e }
      else curE = curE max e
    }
    total + (curE - curS).max(0L)
  }

  /** The layers a span can belong to: this repository's modules. Frames in
    * another `graft.*` file count as `other`.
    */
  val Modules: Seq[String] = Seq(
    "pipelines.Pipelines",
    "sources.PaginatedSource", "sources.ManifestCommit", "sources.Sinks",
    "core.SafeCasts", "core.SchemaRegistry", "core.Tables",
    "operators.Flatten", "operators.TikTokFlatten", "operators.EtlMeta",
    "operators.Relational", "operators.Dedup", "operators.Similarity",
    "operators.Graphs", "operators.Stats", "operators.Bpe",
    "operators.Multimodal", "operators.Privacy",
    "streaming.CurationStream", "queries", "other")

  private val Frame = raw"^\s*(?:at\s+)?graft\.([a-z]+)\.([A-Za-z0-9_]+).*".r

  /** Module of the innermost `graft.*` frame of a call site; `orElse` when
    * it has none.
    */
  def module(callSite: String, orElse: String): String =
    callSite.linesIterator.collectFirst { case Frame(pkg, cls) =>
      val name = cls.takeWhile(_ != '$')
      if (pkg == "queries") "queries"
      else if (Modules.contains(s"$pkg.$name")) s"$pkg.$name"
      else "other"
    }.getOrElse(orElse)
}
