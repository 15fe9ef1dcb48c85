package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ZOrder

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("zkey interleaves bits (known Morton values)") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L))
      .toDF("x", "y")
      .select(ZOrder.zkey(Seq(col("x"), col("y")), bits = 4).as("z"))
      .collect().map(_.getLong(0))
    // interleave(x,y): bit i of x -> position 2i, bit i of y -> 2i+1.
    // (5,3): x=101 -> positions 0,4; y=011 -> positions 1,3
    //        z = 1 + 16 + 2 + 8 = 27
    assert(out === Array(0L, 1L, 2L, 3L, 27L))
  }

  test("zkey saturates out-of-range values instead of bit-aliasing") {
    val out = Seq((1024L + 25L, -7L), (1023L, 0L))
      .toDF("x", "y")
      .select(ZOrder.zkey(Seq(col("x"), col("y")), bits = 10).as("z"))
      .collect().map(_.getLong(0))
    // x=1049 clamps to 1023 (NOT aliased onto 25); y=-7 clamps to 0
    assert(out(0) === out(1))
  }
}
