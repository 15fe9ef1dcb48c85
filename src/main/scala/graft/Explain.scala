package graft

/** Plan-inspection utility: prints the formatted physical plan (and times
  * execution) for one or more named queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession.create()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"========== $name ==========")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"---- $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
