package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SafeCasts

/** T6–T9/T15: the null-on-failure coercion contract. */
class SafeCastsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("safeDouble: garbage/empty → null, numerics parse (T6)") {
    val df = Seq("1.5", "", "garbage", null, "  2.0  ", "1e3").toDF("s")
      .select(SafeCasts.safeDouble(col("s")).as("d"))
    assert(df.collect().map(r => Option(r.get(0))) ===
      Seq(Some(1.5), None, None, None, Some(2.0), Some(1000.0)))
  }

  test("safeLong: non-integral strings → null (SQL semantics, documented divergence)") {
    val df = Seq("42", "12.5", "x").toDF("s")
      .select(SafeCasts.safeLong(col("s")).as("l"))
    assert(df.collect().map(r => Option(r.get(0))) === Seq(Some(42L), None, None))
  }

  test("safeTimestamp: ISO-8601 with Z parses; garbage → null (T7)") {
    val df = Seq("2024-03-01T10:00:00Z", "not a date", "2024-03-01 10:00:00")
      .toDF("s").select(SafeCasts.safeTimestamp(col("s")).as("t"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got(0) === Some("2024-03-01 10:00:00.0"))
    assert(got(1) === None)
    assert(got(2) === Some("2024-03-01 10:00:00.0"))
  }

  test("castColumns: only columns present in the frame are cast (T12 allowlist)") {
    val df = Seq(("1.5", "2024-01-01", "true", "keep")).toDF("amount", "d", "b", "other")
    val spec = SafeCasts.CastSpec(
      numeric = Seq("amount", "not_present"),
      timestamps = Seq("d"),
      booleans = Seq("b"))
    val out = SafeCasts.castColumns(df, spec)
    assert(out.schema("amount").dataType === DoubleType)
    assert(out.schema("d").dataType === TimestampType)
    assert(out.schema("b").dataType === BooleanType)
    assert(out.schema("other").dataType === StringType)
    assert(out.columns === df.columns) // order preserved
  }

  test("clampStrings truncates to DDL max length (T9)") {
    val df = Seq(("abcdefghij", "short")).toDF("a", "b")
    val out = SafeCasts.clampStrings(df, Map("a" -> 4))
    assert(out.head().getString(0) === "abcd")
    assert(out.head().getString(1) === "short")
  }

  test("intersectColumns keeps target order, skips missing (T15)") {
    val df = Seq((1, "x", 2.0)).toDF("id", "name", "val")
    val out = SafeCasts.intersectColumns(df, Seq("val", "id", "not_here"))
    assert(out.columns === Array("val", "id"))
  }
}
