package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access layer over the driver-generated parquet test tables.
  *
  * In the reference, every pipeline reads from a fixed set of staging tables
  * (`sql/staging/create_misa_crm_tables.sql`,
  * `create_tiktok_shop_orders_table.sql`); here the equivalent substrate is
  * one parquet file per table under a scale-factor directory. At cluster
  * scale the same call sites would point at partitioned parquet/Delta
  * directories — nothing else changes because all operators take
  * `DataFrame`s, never paths.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The `ts` column's physical type has varied across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet reader
    * rejects — read nanos as long, integer-DIV to micros; epoch-nanos
    * ~1.7e18 exceed double's 53-bit mantissa so `/ 1000` through double
    * would corrupt low-order digits) vs plain TIMESTAMP(MICROS) without
    * timezone (reads as TIMESTAMP_NTZ). Normalize both to session-local
    * TimestampType — the session timezone is pinned to UTC everywhere, so
    * the NTZ→LTZ cast is instant-preserving and matches how the DuckDB
    * oracle reads the same file.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
