package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables

/** The one place that knows how a graft session is built and populated.
  *
  * [[create]] builds the session every main runs on; [[registerViews]]
  * registers the table universe as temp views plus the engine's SQL
  * functions, so the full surface is queryable with `spark.sql` —
  * grouping sets / rollup / window functions fall out of Spark SQL for
  * free once views exist (SURVEY §2.4 note).
  */
object GraftSession {

  /** A local session over `n` cores with `n` shuffle partitions, UTC
    * session time, no UI and WARN logging. `n` is `$SPARK_GRAFT_CPUS`
    * when set, else the JVM's available processors.
    */
  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ContextCleaner only unpersists broadcasts/shuffles after a DRIVER
      // GC surfaces their dead references; the default 30min periodic GC
      // never fires inside a bench run, leaving cleanup entirely to
      // Bench's per-query System.gc(). Tightened so the cleaner also runs
      // between those points during long iterative queries (BPE,
      // PageRank) instead of letting their shuffle files and broadcast
      // blocks pile onto the next query's allocations.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every test table under its bare name plus the graft SQL
    * functions. `events` goes through its normalizing accessor (the same
    * view of the data the operators get), every other table loads plainly.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Tables.All.foreach {
      case "events" => Tables.events(spark, sfDir).createOrReplaceTempView("events")
      case t => Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    GraftExtensions.register(spark)
  }

  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    registerViews(spark, sfDir)
    spark.sql(query)
  }
}
