package graft

import java.time.Instant
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EtlMeta

/** The lineage stamp: one instant per batch, in code that is the same for
  * every batch (so a later batch reuses the classes an earlier one
  * compiled).
  */
class EtlMetaSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val b1 = EtlMeta.Batch("batch-1", "src", Instant.parse("2024-06-01T10:00:00.123456Z"))
  private val b2 = EtlMeta.Batch("batch-2", "src", Instant.parse("2025-01-31T23:59:59Z"))

  private def stamped(b: EtlMeta.Batch) = EtlMeta.stamp(spark.range(3).toDF("x"), b)

  test("two batches generate identical code") {
    def code(b: EtlMeta.Batch) =
      codegenStringSeq(stamped(b).queryExecution.executedPlan).map(_._2)
    val c1 = code(b1)
    assert(c1.nonEmpty)
    assert(c1 === code(b2))
  }

  test("etl_created_at and etl_updated_at both equal the batch instant") {
    Seq(b1, b2).foreach { b =>
      val df = stamped(b)
      assert(df.schema("etl_created_at").dataType === TimestampType)
      assert(!df.schema("etl_created_at").nullable)
      val rows = df.select("etl_batch_id", "etl_created_at", "etl_updated_at").collect()
      assert(rows.length === 3)
      rows.foreach { r =>
        assert(r.getString(0) === b.batchId)
        assert(r.getTimestamp(1).toInstant === b.createdAt)
        assert(r.getTimestamp(2).toInstant === b.createdAt)
      }
    }
  }

  test("newBatch stamps the instant the batch was made") {
    val before = Instant.now()
    val b = EtlMeta.newBatch("src")
    assert(!b.createdAt.isBefore(before) && !b.createdAt.isAfter(Instant.now()))
  }
}
