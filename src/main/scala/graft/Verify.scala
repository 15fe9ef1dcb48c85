package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing query names → dump only that subset (local dev
    // loop; the driver always runs the full set).
    val subset = args.drop(2).toSet
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // Environment fingerprint + per-query wall time alongside the dump
    // (verify_meta.json — an EXTRA file; the driver contract reads only
    // the parquet dirs and oracle_sql.json). When a hash flakes a round,
    // this localizes "which engine/what timing changed" immediately —
    // the q122 lesson, where the missing fingerprint cost three rounds.
    val times = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        times += (name -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val meta = Json.obj(Seq(
      "spark_version" -> Json.str(spark.version),
      "scala_version" -> Json.str(scala.util.Properties.versionNumberString),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "sf_dir" -> Json.str(sfDir),
      "wall_sec" -> Json.obj(times.sortBy(_._1).map { case (n, t) => n -> f"$t%.3f" })))
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    val json = Json.obj(SparkEntry.oracleSql.map { case (k, v) => k -> Json.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
