package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Physical-plan audit across every declared query: shuffle count,
  * broadcast count, join strategies, whole-stage-codegen coverage. The
  * per-query shuffle budget is the first thing to re-check when a change
  * regresses scale behavior. Usage:
  *   runMain graft.PlanAudit <sfDir> [--executed] [queryName...]
  * `--executed` runs each query and audits the plan it actually executed
  * ([[executedAudit]]); query names restrict the audit to those queries.
  */
object PlanAudit {

  final case class Audit(shuffles: Int, broadcasts: Int, bhj: Int, smj: Int)

  // Codegen spans are deliberately NOT counted: under AQE the pre-execution
  // plan has no WholeStageCodegenExec nodes yet (stages wrap at
  // materialization), so the count would always read 0 here.
  def audit(plan: SparkPlan): Audit = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ => Nil
      }
      (p +: p.children.flatMap(walk)) ++ inner
    }
    val nodes = walk(plan)
    Audit(
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]))
  }

  /** Runtime-plan audit: what the query ACTUALLY executed, after AQE has
    * replanned and exchange/stage reuse has resolved. The static [[audit]]
    * counts repeated subtrees once per consumer (the q69 "42-shuffle"
    * budget is a static-tree count); this one answers the question that
    * matters for cost — how many times was the input really scanned, and
    * how many shuffles really materialized vs were served from a reused
    * stage. A ReusedExchangeExec is a LEAF here: walking into it would
    * re-count the work the reuse exists to avoid.
    */
  final case class ExecAudit(scans: Int, shuffles: Int, reusedShuffles: Int,
      broadcasts: Int, reusedBroadcasts: Int)

  def executedAudit(df: DataFrame): ExecAudit = {
    // Execute through df's OWN QueryExecution: a df.write would build a
    // SEPARATE QueryExecution, leaving this one's AdaptiveSparkPlanExec
    // unexecuted (isFinalPlan=false) — an un-replanned tree where stage
    // reuse has not resolved, so reusedShuffles would always read 0
    // (the round-9 audit bug). toRdd.count() runs the plan distributed
    // without serializing rows to the driver.
    val qe = df.queryExecution
    qe.toRdd.count()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: ReusedExchangeExec => Seq(p)
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    val nodes = walk(qe.executedPlan)
    def reusedIs[T: scala.reflect.ClassTag](r: ReusedExchangeExec) =
      scala.reflect.classTag[T].runtimeClass.isInstance(r.child)
    val reused = nodes.collect { case r: ReusedExchangeExec => r }
    ExecAudit(
      scans = nodes.count(_.isInstanceOf[FileSourceScanExec]),
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      reusedShuffles = reused.count(reusedIs[ShuffleExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      reusedBroadcasts = reused.count(reusedIs[BroadcastExchangeExec]))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (flags, names) = args.drop(1).partition(_ == "--executed")
    val executed = flags.nonEmpty
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.create()
    if (executed)
      println(f"${"query"}%-30s ${"scans"}%6s ${"shuf"}%5s ${"reuseS"}%6s ${"bcast"}%6s ${"reuseB"}%6s")
    else
      println(f"${"query"}%-26s ${"shuffles"}%8s ${"bcast"}%6s ${"BHJ"}%4s ${"SMJ"}%4s")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => names.isEmpty || names.contains(name) }
      .foreach { case (name, fn) =>
      try {
        if (executed) {
          val a = executedAudit(fn(spark, sfDir))
          println(f"$name%-30s ${a.scans}%6d ${a.shuffles}%5d ${a.reusedShuffles}%6d ${a.broadcasts}%6d ${a.reusedBroadcasts}%6d")
        } else {
          val a = audit(fn(spark, sfDir).queryExecution.executedPlan)
          println(f"$name%-26s ${a.shuffles}%8d ${a.broadcasts}%6d ${a.bhj}%4d ${a.smj}%4d")
        }
      } catch {
        case e: Throwable => println(f"$name%-26s  audit failed: ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
