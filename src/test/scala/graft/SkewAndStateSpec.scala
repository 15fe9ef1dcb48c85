package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew

class SkewAndStateSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("saltedJoin returns exactly the rows of the unsalted join under skew") {
    // 90% of left rows share one hot key.
    val left = ((1 to 900).map(_ => (1L, "hot")) ++
      (2 to 101).map(i => (i.toLong, s"v$i"))).toDF("k", "lv")
    val right = (1 to 101).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).collect().map(_.toSeq).toList.sortBy(_.toString)
    val salted = Skew.saltedJoin(left, right, Seq("k"), factor = 8)
      .select(plain.headOption.map(_ => col("k")).getOrElse(col("k")),
        col("lv"), col("rv"))
      .collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(salted === plain)
    assert(salted.count(_.head === 1L) === 900)
  }

  test("skewReport: exact shape stats on a known distribution") {
    val rows = (Seq.fill(6)("A") ++ Seq.fill(2)("B") ++ Seq("C", "D"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val out = Skew.skewReport(rows, "k").collect().head
    // counts sorted: [1, 1, 2, 6] -> p50 = 1.5, p99 = 2 + 0.97*(6-2) = 5.88
    // (reported ×1000 as exact integers — the round-8 hash discipline).
    assert(out.getLong(0) === 4L)       // n_keys
    assert(out.getLong(1) === 10L)      // n_rows
    assert(out.getLong(2) === 6L)       // max_cnt
    assert(out.getLong(3) === 1500L)    // p50_cnt_x1000
    assert(out.getLong(4) === 5880L)    // p99_cnt_x1000 = 2·30 + 6·970
    assert(out.getLong(5) === 2400000L) // skew_ratio_ppm = 6/(10/4) ppm
    assert(out.getLong(6) === 1000000L) // top10_share_ppm: only 4 keys exist
  }
}
