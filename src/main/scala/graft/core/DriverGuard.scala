package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** The driver-side guard in front of every small-input algorithm that
  * runs in driver memory (union-find clusters, BPE training, PageRank,
  * triangles, Adamic-Adar), with its distributed code as the fallback.
  */
object DriverGuard {

  /** `df`'s rows if there are at most `cap` of them, else None. ONE pass
    * decides the path AND, in the common case, delivers the data: the
    * extra row of `limit(cap + 1)` is the overflow signal and the limit
    * caps driver memory. Counting first and collecting after would run
    * the (often expensive) input plan twice.
    */
  def collectUpTo(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }
}
