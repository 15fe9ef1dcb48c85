package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Flatten, Validators}

/** Encoders require top-level case classes (inner classes trip
  * outerScopeFailureForNewInstanceError).
  */
case class Item(product_id: String, quantity: Int)
case class Order(order_id: String, status: String, line_items: Seq[Item])

/** T1/T11 flatten semantics per FIXTURES.md: (a) N>1 items → N rows,
  * (b) 1 item → 1 row, (c) empty/missing items → 1 all-null-item row.
  */
class FlattenSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def fixture = Seq(
    Order("o1", "PAID", Seq(Item("p1", 1), Item("p2", 2), Item("p3", 3))),
    Order("o2", "PAID", Seq(Item("p4", 4))),
    Order("o3", "UNPAID", Seq.empty),
    Order("o4", "CANCELLED", null),
  ).toDF()

  test("explode_outer flatten: N items → N rows, zero/null items → one null row") {
    val flat = Flatten.flattenOuter(fixture, "line_items", "item", Seq("order_id", "status"))
    assert(flat.count() === 6) // 3 + 1 + 1 + 1
    val nullRows = flat.filter(col("item").isNull).select("order_id")
      .collect().map(_.getString(0)).sorted
    assert(nullRows === Array("o3", "o4"))
    val o1 = flat.filter(col("order_id") === "o1")
      .select(col("item.product_id")).collect().map(_.getString(0)).sorted
    assert(o1 === Array("p1", "p2", "p3"))
  }

  test("prefix-flatten: order_/item_ renames + derived columns, null-array → 0") {
    val flat = Flatten.prefixFlatten(fixture, "line_items")
    assert(flat.columns.toSet === Set(
      "order_order_id", "order_status", "item_product_id", "item_quantity",
      "has_multiple_items", "total_items_in_order"))
    val byOrder = flat.select("order_order_id", "has_multiple_items", "total_items_in_order")
      .distinct().collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getInt(2)))).toMap
    assert(byOrder("o1") === ((true, 3)))
    assert(byOrder("o2") === ((false, 1)))
    assert(byOrder("o3") === ((false, 0)))
    assert(byOrder("o4") === ((false, 0)))
  }

  test("A5 invariants hold on the fixture flatten") {
    val flat = Flatten.flattenOuter(fixture, "line_items", "item", Seq("order_id"))
    val inv = Validators.flattenInvariants(
      fixture, "order_id", itemsCount = 4, flat, "order_id", "item")
    assert(inv.holds, inv.toString)
    assert(inv.totalRowsOut === 6)
    assert(inv.itemRowsOut === 4)
  }

  test("fdAudit: exact violation counts, null lhs groups, null rhs skipped") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "x", Some("p")), (Some(1L), "x", Some("q")),
      (Some(2L), "y", Some("r")), (None, "z", Some("r")),
      (Some(2L), "y", None))
      .toDF("a", "b", "c")
    val out = Validators.fdAudit(df, Seq(("a", "b"), ("a", "c")))
      .orderBy("rhs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getLong(6)))
    assert(out === Array(
      // a -> b holds across all three groups (the NULL lhs is a group)
      ("a", "b", 3L, 0L, 1L, true, 0L),
      // a -> c: group 1 carries {p,q}; group 2's NULL rhs doesn't count
      ("a", "c", 3L, 1L, 2L, false, 333333L)))
  }

  test("partitionChecksum: row-order and partitioning invariant, single-row sensitive, null spelled") {
    import spark.implicits._
    val rows = Seq(("p1", 1L, Some("x")), ("p1", 2L, Some("y")),
      ("p1", 3L, None), ("p2", 4L, Some("z")))
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Validators.partitionChecksum(df, col("part"),
          Seq(("k", col("k")), ("s", col("s"))))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val base = manifest(rows.toDF("part", "k", "s"))
    // XOR is commutative: any row order, any partitioning — same manifest
    assert(manifest(rows.reverse.toDF("part", "k", "s").repartition(7)) === base)
    // one changed row flips its partition's checksum, leaves the other
    val changed = manifest(Seq(("p1", 1L, Some("x")), ("p1", 2L, Some("Y")),
      ("p1", 3L, None), ("p2", 4L, Some("z"))).toDF("part", "k", "s"))
    assert(changed("p1") !== base("p1"))
    assert(changed("p2") === base("p2"))
    // null is spelled, not skipped: dropping the null row changes p1
    val dropped = manifest(Seq(("p1", 1L, Some("x")), ("p1", 2L, Some("y")),
      ("p2", 4L, Some("z"))).toDF("part", "k", "s"))
    assert(dropped("p1")._1 === 2L)
    assert(dropped("p1")._2 !== base("p1")._2)
  }

  test("partitionChecksum: injective encoding — delimiter injection and the N marker cannot alias") {
    import spark.implicits._
    def xor(rows: Seq[(String, Option[String], Option[String])]) =
      Validators.partitionChecksum(rows.toDF("part", "a", "b"), col("part"),
          Seq(("a", col("a")), ("b", col("b"))))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap.apply("p")
    // Field-boundary forgery: under the unescaped encoding both rows
    // spelled "a=1|b=2|b=3"; escaping makes them distinct.
    assert(xor(Seq(("p", Some("1|b=2"), Some("3")))) !==
      xor(Seq(("p", Some("1"), Some("2|b=3")))))
    // NULL is the whole-value marker \N, which escaping can never
    // produce — a literal "N" (or "\N") value no longer aliases null.
    assert(xor(Seq(("p", Some("N"), Some("x")))) !==
      xor(Seq(("p", None, Some("x")))))
    assert(xor(Seq(("p", Some("\\N"), Some("x")))) !==
      xor(Seq(("p", None, Some("x")))))
    // Field names are part of the encoding: reject unencodable names.
    intercept[IllegalArgumentException] {
      Validators.partitionChecksum(Seq(("p", "v")).toDF("part", "x"),
        col("part"), Seq(("bad|name", col("x"))))
    }
  }

  test("manifestDiffFields: attribution names the drifted columns; NULL where not comparable") {
    import spark.implicits._
    def m(rows: Seq[(String, Option[String], Option[String])]) =
      Validators.partitionChecksumFields(rows.toDF("part", "a", "b"),
        col("part"), Seq(("a", col("a")), ("b", col("b"))))
    val left = m(Seq(("p1", Some("x"), Some("y")), ("p2", Some("q"), Some("r")),
      ("cnt", Some("1"), Some("2")), ("cnt", Some("3"), Some("4")),
      ("gone", Some("g"), Some("g"))))
    val right = m(Seq(("p1", Some("x"), Some("y")), // clean match
      ("p2", Some("q"), Some("R")), // only b drifts
      ("cnt", Some("1"), Some("2")), // cardinality drift (2 rows -> 1)
      ("new", Some("n"), Some("n"))))
    val out = Validators.manifestDiffFields(left, right, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> (r.getString(3), r.getString(4)))
      .toMap
    assert(out("p1") === (("match", "")))
    assert(out("p2") === (("checksum_mismatch", "b")))
    assert(out("cnt") === (("count_mismatch", null)))
    assert(out("gone") === (("missing_right", null)))
    assert(out("new") === (("missing_left", null)))
    // Both columns drifting join comma-separated in field order.
    val l2 = m(Seq(("p", Some("x"), Some("y"))))
    val r2 = m(Seq(("p", Some("X"), Some("Y"))))
    assert(Validators.manifestDiffFields(l2, r2, Seq("a", "b")).collect()
      .map(_.getString(4)).toSeq === Seq("a,b"))
  }

  test("manifestDiff: all five statuses, count checked before checksum") {
    import spark.implicits._
    def m(rows: Seq[(String, Long, Long)]) =
      rows.toDF("part", "n_rows", "xor_checksum")
    val a = m(Seq(("match", 2L, 7L), ("cnt", 3L, 7L), ("sum", 2L, 7L),
      ("only_a", 1L, 1L)))
    // "cnt" differs in BOTH count and checksum — count_mismatch must win
    val b = m(Seq(("match", 2L, 7L), ("cnt", 2L, 9L), ("sum", 2L, 8L),
      ("only_b", 1L, 1L)))
    val out = Validators.manifestDiff(a, b).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out === Map("match" -> "match", "cnt" -> "count_mismatch",
      "sum" -> "checksum_mismatch", "only_a" -> "missing_right",
      "only_b" -> "missing_left"))
  }
}
