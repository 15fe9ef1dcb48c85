package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKByOrd

/** TopKByOrd: the k-bounded aggregate must reproduce the ranking-window
  * answer exactly under any partitioning — the whole point is replacing
  * the window's full sort with map-side heaps without changing semantics.
  */
class TopKSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def sample = (1L to 500L).map { i =>
    (s"g${i % 7}", ((i * 31) % 97).toDouble, i)
  }

  test("matches the row_number window reference under every partitioning") {
    val k = 4
    val w = Window.partitionBy(col("g")).orderBy(col("ord").desc, col("id"))
    val expected = sample.toDF("g", "ord", "id")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("g", "ord", "id").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    for (parts <- Seq(1, 3, 16)) {
      val got = sample.toDF("g", "ord", "id").repartition(parts)
        .groupBy(col("g"))
        .agg(TopKByOrd.top_k_by(col("ord"), col("id"), k).as("top"))
        .select(col("g"), explode(col("top")).as("t"))
        .select(col("g"), col("t.ord"), col("t.id")).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got === expected, s"parts=$parts")
    }
  }

  test("array is sorted (ord desc, id asc); duplicate ords tie-break by id") {
    val df = Seq(("g", 5.0, 30L), ("g", 5.0, 10L), ("g", 7.0, 99L),
      ("g", 5.0, 20L), ("g", 1.0, 1L)).toDF("g", "ord", "id")
    val top = df.groupBy(col("g"))
      .agg(TopKByOrd.top_k_by(col("ord"), col("id"), 3).as("top"))
      .select(explode(col("top")).as("t")).select("t.ord", "t.id")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(top.toSeq === Seq((7.0, 99L), (5.0, 10L), (5.0, 20L)))
  }

  test("null ord/id rows contribute nothing; NaN ord is rejected") {
    val withNulls = Seq((Some(3.0), Some(1L)), (None, Some(2L)), (Some(9.0), None))
      .toDF("ord", "id")
    val top = withNulls.agg(TopKByOrd.top_k_by(col("ord"), col("id"), 5).as("top"))
      .select(explode(col("top")).as("t")).select("t.id")
      .collect().map(_.getLong(0))
    assert(top.toSeq === Seq(1L))
    val e = intercept[Exception] {
      Seq((Double.NaN, 1L)).toDF("ord", "id")
        .agg(TopKByOrd.top_k_by(col("ord"), col("id"), 1)).collect()
    }
    assert(e.getMessage != null)
  }

  test("buffer serialization compacts to k and round-trips") {
    val agg = TopKByOrd(
      org.apache.spark.sql.catalyst.graftbridge.ColumnBridge.expression(lit(0.0)),
      org.apache.spark.sql.catalyst.graftbridge.ColumnBridge.expression(lit(0L)), k = 2)
    val buf = scala.collection.mutable.ArrayBuffer(
      (1.0, 1L), (9.0, 9L), (5.0, 5L), (9.0, 8L))
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.sorted(Ordering.Tuple2(
      Ordering.Double.TotalOrdering.reverse, Ordering.Long)).toSeq ===
      Seq((9.0, 8L), (9.0, 9L)))
  }
}
