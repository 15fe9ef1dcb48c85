package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def eventsFixture = Seq(
    (1L, Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
    (2L, Timestamp.valueOf("2024-01-01 10:35:00"), "click", 2.0),
    (3L, Timestamp.valueOf("2024-01-01 11:05:00"), "view", 3.0),
    (4L, Timestamp.valueOf("2024-01-01 11:10:00"), "click", 4.0),
  ).toDF("event_id", "ts", "event_type", "value")

  test("stream-static enrichment join (dimension lookup inside a stream)") {
    val src = Files.createTempDirectory("graft-ss-src").toString
    eventsFixture.write.mode("overwrite").parquet(src)
    val userDim = Seq((1L, "alice"), (2L, "bob"), (3L, "carol"), (4L, "dave"))
      .toDF("event_id", "user_name") // keyed by event_id for the fixture
    val stream = spark.readStream.schema(eventsFixture.schema).parquet(src)
      .join(userDim, Seq("event_id"), "left")
    val q = stream.writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("enrich_test").orderBy("event_id").collect()
      assert(out.length === 4)
      assert(out.head.getAs[String]("user_name") === "alice")
    } finally q.stop()
  }

  test("Misra–Gries heavy-hitter sketch runs as a streaming aggregate (q90's candidate pass)") {
    // The TypedImperativeAggregate must serialize its buffer into the
    // streaming state store across micro-batches: 60×hot + 40 singletons
    // arrive as ONE initial batch plus a second 30×hot2 batch — the final
    // candidate set must still contain both true heavy keys.
    val src = Files.createTempDirectory("graft-mg-src").toString
    val rows = (Seq.fill(60)("hot") ++ (1 to 40).map(i => s"t$i"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
    rows.toDF("id", "key").write.mode("overwrite").parquet(src)
    val schema = rows.toDF("id", "key").schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val agg = stream.agg(
      graft.functions.MisraGries.misra_gries(col("key"), 8).as("cands"))
    val q = agg.writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val first = spark.table("mg_stream").select(explode(col("cands")))
        .as[String].collect().toSet
      assert(first.contains("hot"), s"lost the heavy key in batch 1: $first")
      // Second micro-batch: a new heavy key arrives.
      (100 to 129).map(i => (i.toLong, "hot2")).toDF("id", "key")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val cands = spark.table("mg_stream").select(explode(col("cands")))
        .as[String].collect().toSet
      assert(cands.size <= 8)
      assert(cands.contains("hot") && cands.contains("hot2"),
        s"state-store merge lost a heavy key: $cands")
    } finally q.stop()
  }
}
