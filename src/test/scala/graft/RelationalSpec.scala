package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("mergeUpsert: source wins on match, inserts on no-match, target survives") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "bal")
    val source = Seq((2L, "b2", 99.0), (3L, "c", 30.0)).toDF("id", "name", "bal")
    val out = Relational.mergeUpsert(target, source, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out === Array((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0)))
  }

  test("mergeUpsert is idempotent: applying the same source twice == once") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "bal")
    val source = Seq((2L, "b2", 99.0), (3L, "c", 30.0)).toDF("id", "name", "bal")
    val once = Relational.mergeUpsert(target, source, Seq("id"))
    val twice = Relational.mergeUpsert(once, source, Seq("id"))
    assert(once.orderBy("id").collect() === twice.orderBy("id").collect())
  }

  test("mergeUpsert: NULL in a matched source column overwrites the target value") {
    val target = Seq((1L, Option("keep-me"))).toDF("id", "v")
    val source = Seq((1L, Option.empty[String])).toDF("id", "v")
    val out = Relational.mergeUpsert(target, source, Seq("id")).head()
    assert(out.isNullAt(1)) // source row matched → its NULL wins
  }

  test("mergeUpsert rejects mismatched schemas") {
    val target = Seq((1L, "a")).toDF("id", "name")
    val source = Seq((1L, 2.0)).toDF("id", "bal")
    intercept[IllegalArgumentException] {
      Relational.mergeUpsert(target, source, Seq("id"))
    }
  }

  test("mergeUpsert matches a reordered target by name and names the drifted columns") {
    val target = Seq(("a", 1L), ("b", 2L)).toDF("name", "id")
    val source = Seq((2L, "b2")).toDF("id", "name")
    val out = Relational.mergeUpsert(target, source, Seq("id"))
    assert(out.columns.toSeq === Seq("id", "name"))
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))) ===
      Array((1L, "a"), (2L, "b2")))
    val e = intercept[IllegalArgumentException] {
      Relational.mergeUpsert(target.withColumn("x", lit(1)), source.withColumn("y", lit(1)),
        Seq("id"))
    }
    assert(e.getMessage.contains("target-only=x source-only=y"), e.getMessage)
  }

  test("dedupAppend: in-batch dups dropped, existing keys excluded (L4)") {
    val incoming = Seq((1L, "x"), (1L, "x-dup"), (2L, "y"), (3L, "z")).toDF("id", "v")
    val existing = Seq((2L, "old")).toDF("id", "v")
    val out = Relational.dedupAppend(incoming, existing, Seq("id"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(out === Array(1L, 3L))
  }

  test("lookbackFilter keeps null timestamps — fail-open (S7)") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-10 00:00:00")),
      (2L, Timestamp.valueOf("2024-01-20 00:00:00")),
      (3L, null.asInstanceOf[Timestamp]),
    ).toDF("id", "ts")
    val out = Relational.lookbackFilter(df, "ts",
      lit("2024-01-15 00:00:00").cast("timestamp"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(out === Array(2L, 3L)) // late-but-parsed dropped, null KEPT
  }

  test("retain drops rows older than cutoff (L7)") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-10 00:00:00")),
      (2L, Timestamp.valueOf("2024-01-20 00:00:00")),
    ).toDF("id", "ts")
    val out = Relational.retain(df, "ts", lit("2024-01-15 00:00:00").cast("timestamp"))
    assert(out.select("id").collect().map(_.getLong(0)) === Array(2L))
  }

  test("snapshotDiff classifies inserts/deletes/updates/null transitions") {
    val oldSnap = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")),
    ).toDF("id", "v")
    val newSnap = Seq(
      (1L, Some("a")),   // unchanged
      (2L, Some("bb")),  // updated
      (3L, Some("c")),   // updated: NULL -> value must count as a change
      (5L, Some("e")),   // inserted; 4 deleted
    ).toDF("id", "v")
    val out = Relational.snapshotDiff(oldSnap, newSnap, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out === Array((1L, "unchanged"), (2L, "updated"),
      (3L, "updated"), (4L, "deleted"), (5L, "inserted")))
  }

  test("compactChangelog: last event wins, tombstoned keys disappear") {
    val log = Seq(
      (1L, 100L, 1L, "set", "a"),   // key 1: set→set, latest v="b"
      (2L, 100L, 1L, "set", "b"),
      (3L, 100L, 2L, "set", "x"),   // key 2: tombstoned last → gone
      (4L, 200L, 2L, "del", null.asInstanceOf[String]),
      (5L, 100L, 3L, "del", null.asInstanceOf[String]), // key 3: deleted then re-set
      (6L, 200L, 3L, "set", "z"),
    ).toDF("event_id", "ts", "key", "op", "v")
    val out = Relational.compactChangelog(log, Seq("key"),
        Seq(col("ts"), col("event_id")), isTombstone = col("op") === "del")
      .orderBy("key").collect().map(r => (r.getLong(2), r.getString(4)))
    assert(out === Array((1L, "b"), (3L, "z")))
  }

  test("compactChangelog: null tombstone predicate means survive, not vanish") {
    // key 7's winning event has op=NULL → `op === "del"` is NULL; the key
    // must SURVIVE (it was not tombstoned), not silently disappear.
    val log = Seq(
      (1L, 100L, 7L, "set", "a"),
      (2L, 200L, 7L, null.asInstanceOf[String], "b"),
      (3L, 100L, 8L, "del", null.asInstanceOf[String]),
    ).toDF("event_id", "ts", "key", "op", "v")
    val out = Relational.compactChangelog(log, Seq("key"),
        Seq(col("ts"), col("event_id")), isTombstone = col("op") === "del")
      .collect().map(r => (r.getLong(2), r.getString(4)))
    assert(out === Array((7L, "b")))
  }

  test("scd2: collapses restatements, versions changes, open version is current") {
    val log = Seq(
      // key 1: a a b a — restated 'a' collapses; three versions.
      (1L, 100L, 1L, "a"), (2L, 200L, 1L, "a"),
      (3L, 300L, 1L, "b"), (4L, 400L, 1L, "a"),
      // key 2: null → "x" opens a NEW version (null-safe change detection).
      (5L, 100L, 2L, null.asInstanceOf[String]), (6L, 200L, 2L, "x"),
    ).toDF("event_id", "ts", "key", "attr")
    val out = Relational.scd2(log, "key", Seq("attr"),
        Seq(col("ts"), col("event_id")))
      .orderBy("key", "version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
    assert(out === Array(
      (1L, "a", 1, 100L, Some(300L), false),
      (1L, "b", 2, 300L, Some(400L), false),
      (1L, "a", 3, 400L, None, true),
      (2L, null, 1, 100L, Some(200L), false),
      (2L, "x", 2, 200L, None, true)))
  }

  test("scd2Apply(batch) equals scd2(full history) exactly") {
    // Seeded random history over 8 keys / 3 attr values, split at a time
    // boundary. The incremental path must reproduce the full rebuild —
    // including keys absent from the batch, keys new in the batch, and
    // boundary restatements.
    val rnd = new scala.util.Random(11)
    val events = (1 to 300).map { i =>
      (i.toLong, (100 + i).toLong, rnd.nextInt(8).toLong + 1,
        s"v${rnd.nextInt(3)}")
    }
    // keys 9, 10 exist only in one half each
    val all = (events :+ ((301L, 150L, 9L, "v0")) :+ ((302L, 350L, 10L, "v1")))
      .toDF("event_id", "ts", "key", "attr")
    val first = all.filter(col("ts") <= 250)
    val second = all.filter(col("ts") > 250)
    val full = Relational.scd2(all, "key", Seq("attr"),
        Seq(col("ts"), col("event_id")))
      .orderBy("key", "version").collect()
    val inc = Relational.scd2Apply(
        Relational.scd2(first, "key", Seq("attr"), Seq(col("ts"), col("event_id"))),
        second, "key", Seq("attr"), Seq("ts", "event_id"))
      .orderBy("key", "version").collect()
    assert(inc === full)
  }

  test("scd2Apply: batch restating the open version's attrs opens no new version") {
    val dim = Relational.scd2(
      Seq((1L, 100L, 1L, "a")).toDF("event_id", "ts", "key", "attr"),
      "key", Seq("attr"), Seq(col("ts"), col("event_id")))
    val batch = Seq((2L, 200L, 1L, "a"), (3L, 300L, 1L, "b"))
      .toDF("event_id", "ts", "key", "attr")
    val out = Relational.scd2Apply(dim, batch, "key", Seq("attr"), Seq("ts", "event_id"))
      .orderBy("version")
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
    // 'a' at ts=200 collapses into the open v1; 'b' opens v2 at ts=300.
    assert(out === Array(("a", 1, 100L, Some(300L), false),
      ("b", 2, 300L, None, true)))
  }

  test("bloomPreFilter: no false negatives, misses mostly pruned") {
    val build = (0L until 500L).map(i => s"key$i").toDF("k")
    val probe = ((0L until 100L).map(i => s"key$i") ++   // present
      (0L until 100L).map(i => s"absent$i")).toDF("k")   // absent
    val out = Relational.bloomPreFilter(probe, build, "k",
        expectedItems = 1024L, numBits = 16384L)
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    assert(out.count(_._1.startsWith("key")) === 100)
    assert(out.filter(_._1.startsWith("key")).forall(_._2),
      "a build-side key must always hit")
    val fp = out.filter(_._1.startsWith("absent")).count(_._2)
    assert(fp <= 10, s"false positives out of bound: $fp/100")
  }

  test("snapshotDiff refuses schema drift") {
    val a = Seq((1L, "x")).toDF("id", "v")
    val b = Seq((1L, "x", 0)).toDF("id", "v", "extra")
    assertThrows[IllegalArgumentException] {
      Relational.snapshotDiff(a, b, Seq("id"))
    }
  }
}
