package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ETL lineage stamping — every staging row in the reference carries
  * `etl_batch_id, etl_created_at, etl_updated_at[, etl_source]`
  * (tiktok_shop_transformer.py:169-177; misa_crm_transformer.py:37-53).
  *
  * The batch id is batch-CONSTANT (uuid4 per transformer instance, not per
  * row), so it is a `lit`, not the nondeterministic `uuid()` expression —
  * this also keeps re-runs of a failed batch identifiable and the column
  * perfectly run-length-encodable in parquet at 100 TB.
  */
object EtlMeta {

  /** One batch: its id, its source and the instant it was created, which
    * every row the batch stamps carries as `etl_created_at` and
    * `etl_updated_at` (one stamp per batch, as the reference's
    * transformers do).
    */
  final case class Batch(batchId: String, source: String,
      createdAt: java.time.Instant = java.time.Instant.now())

  def newBatch(source: String): Batch =
    Batch(java.util.UUID.randomUUID().toString, source)

  /** The instant reaches the plan through a closure, not a literal: a
    * timestamp literal is inlined into the generated code, so every batch
    * would compile classes that no later batch reuses. The string
    * literals are referenced, not inlined, so two batches generate the
    * same code.
    */
  def stamp(df: DataFrame, batch: Batch): DataFrame = {
    val createdAt = batch.createdAt
    val at = udf(() => createdAt).asNonNullable()
    df.withColumn("etl_batch_id", lit(batch.batchId))
      .withColumn("etl_source", lit(batch.source))
      .withColumn("etl_created_at", at())
      .withColumn("etl_updated_at", at())
  }

  /** Deterministic variant for oracle-checked queries and golden tests:
    * fixed batch id, no wall-clock columns.
    */
  def stampDeterministic(df: DataFrame, batchId: String, source: String): DataFrame =
    df.withColumn("etl_batch_id", lit(batchId))
      .withColumn("etl_source", lit(source))
}
