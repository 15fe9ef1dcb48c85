package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's statistics / data-quality / mart aggregations (SURVEY
  * §2.4), each a single partial-aggregated Spark job.
  */
object Aggregations {

  /** Exact decimal-routed sum of a double column, surfaced as double —
    * engine- and partition-order-independent (see QueryDef).
    */
  def dsum(c: Column, precision: Int = 18, scale: Int = 2): Column =
    sum(c.cast(DecimalType(precision, scale))).cast(DoubleType)

  /** A1 load statistics (tiktok_shop_staging_loader.py:155-203). */
  def loadStats(df: DataFrame, pk: String, tsCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total_records"),
      countDistinct(col(pk)).as(s"unique_$pk"),
      min(col(tsCol)).as(s"min_$tsCol"),
      max(col(tsCol)).as(s"max_$tsCol"))

  /** A2 staging summary (misa_crm_loader.py:325-382): per-group rowcount,
    * distinct entities, recency count relative to a cutoff.
    */
  def stagingSummary(df: DataFrame, groupCol: String, idCol: String,
      tsCol: String, recentCutoff: Column): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("total_records"),
        countDistinct(col(idCol)).as("unique_ids"),
        max(col(tsCol)).cast(DateType).as("last_loaded_day"),
        sum(when(col(tsCol) >= recentCutoff, 1L).otherwise(0L)).as("recent_records"))

  /** A3 data-quality gate counts (production_etl_orchestrator.py:264-327):
    * one count per table with its non-empty flag; the reference passes a
    * cycle iff ≥ 5 of 6 tables have rows (the ETL cycle decides that gate
    * in `Pipelines.runIncrementalCycleAtomic`). Counts run as parallel
    * jobs; parquet row-group metadata makes each a metadata-only scan.
    */
  def qualityCounts(spark: SparkSession, sfDir: String, tables: Seq[String]): DataFrame = {
    import graft.core.Tables
    val counts = tables.map { t =>
      Tables.load(spark, sfDir, t)
        .agg(count(lit(1)).as("row_cnt"))
        .select(lit(t).as("table_name"), col("row_cnt"))
    }
    counts.reduce(_.unionByName(_)).withColumn("non_empty", col("row_cnt") > 0)
  }

  /** A7 dormant data-mart spec (create_future_platforms_schemas.sql:173-202):
    * daily_sales_summary — GROUP BY (day, platform) with order counts, summed
    * revenue/quantity and average order value. `platform` is the grouping
    * dimension column; revenue is computed at line grain.
    */
  def dailySalesSummary(orders: DataFrame, lineitem: DataFrame): DataFrame =
    dailySalesSummaryLines(lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey"), "inner"))

  /** [[dailySalesSummary]] over an already line-grain frame (each row one
    * line item carrying its order's o_orderkey/o_orderdate/
    * o_orderpriority) — the shape a sales feed arrives in, one partial
    * per batch for [[mergeDailySalesPartials]].
    */
  def dailySalesSummaryLines(lines: DataFrame): DataFrame =
    lines
      .groupBy(to_date(col("o_orderdate")).as("sale_date"),
        col("o_orderpriority").as("platform"))
      .agg(
        countDistinct(col("o_orderkey")).as("total_orders"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast(DoubleType).as("total_revenue"),
        dsum(col("l_quantity")).as("total_quantity"))
      .withColumn("avg_order_value", col("total_revenue") / col("total_orders"))

  /** Incremental-mart maintenance: merge per-batch [[dailySalesSummary]]
    * partials into the mart a full recompute would produce — the
    * mart-refresh pattern where each load cycle aggregates ONLY its new
    * orders and folds the result into the standing mart, instead of
    * re-scanning the whole fact history (at 100 TB the full daily
    * recompute IS the bottleneck; partials are mart-sized).
    *
    * Correctness contract: batches must partition the fact stream on the
    * ORDER grain (each o_orderkey wholly in one batch — exactly how
    * incremental loads arrive: an order's line items land together).
    * Then `total_orders` (a per-batch COUNT DISTINCT over disjoint key
    * sets) and both sums are additive, and `avg_order_value` re-derives
    * from the merged columns. The sums route back through DECIMAL at the
    * SAME SCALE the full mart produces them — revenue at scale 4 (the
    * price·(1−discount) product scale), quantity at scale 2 — and a mart
    * value of ≤ 15 significant digits round-trips its double cast
    * exactly, so the merged mart is BIT-IDENTICAL to the full recompute,
    * not approximately equal. A coarser merge scale would silently round
    * the standing mart a little further on every refresh cycle.
    */
  def mergeDailySalesPartials(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "mergeDailySalesPartials: need at least one partial")
    parts.reduce(_.unionByName(_))
      .groupBy(col("sale_date"), col("platform"))
      .agg(
        sum(col("total_orders")).as("total_orders"),
        dsum(col("total_revenue"), 18, 4).as("total_revenue"),
        dsum(col("total_quantity")).as("total_quantity"))
      .withColumn("avg_order_value", col("total_revenue") / col("total_orders"))
  }

  /** Schema-generic column profiler: ONE pass over the table produces a
    * long-format profile row per column — (column, dtype, n_rows,
    * n_nulls, n_distinct, min_str, max_str) — the q44 events profile
    * generalized to any schema, driven off `df.schema` instead of
    * hand-written per column. All columns' statistics run in a single
    * aggregation (the scan is the cost at 100 TB; a per-column loop would
    * scan once per column), then `stack` melts the wide row.
    *
    * min/max are string-rendered; fractional types are excluded from
    * min/max (engine double-formatting differs — exactly the kind of
    * false mismatch the DECIMAL discipline exists to avoid) and surface
    * NULL instead.
    */
  def profileColumns(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val renderMinMax: StructField => Boolean = f => f.dataType match {
      case DoubleType | FloatType => false
      case _: DecimalType => false
      case _ => true
    }
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
        countDistinct(c).as(s"${f.name}__distinct"),
        (if (renderMinMax(f)) min(c).cast(StringType) else lit(null).cast(StringType))
          .as(s"${f.name}__min"),
        (if (renderMinMax(f)) max(c).cast(StringType) else lit(null).cast(StringType))
          .as(s"${f.name}__max"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = fields.map { f =>
      s"'${f.name}', '${f.dataType.catalogString}', `${f.name}__nulls`, " +
        s"`${f.name}__distinct`, `${f.name}__min`, `${f.name}__max`"
    }.mkString(", ")
    wide.select(col("__n").as("n_rows"), expr(
        s"stack(${fields.length}, $stackArgs) AS " +
          "(column_name, dtype, n_nulls, n_distinct, min_str, max_str)"))
      .select(col("column_name"), col("dtype"), col("n_rows"),
        col("n_nulls"), col("n_distinct"), col("min_str"), col("max_str"))
  }
}
