package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of code starts, for job-budget specs. */
object SparkJobs {

  /** The job group of every job started while `body` runs, in start
    * order (null for a job without one). A fence job, run in a group of
    * its own from another thread, marks the end of the listener's backlog.
    */
  def groupsDuring(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    val fenced = new CountDownLatch(1)
    val groups = new ConcurrentLinkedQueue[Option[String]]()
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
      assert(fenced.await(60, TimeUnit.SECONDS), "listener fence job never seen")
    } finally sc.removeSparkListener(listener)
    groups.asScala.toSeq.map(_.orNull)
  }
}
