package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.core.Tables
import graft.operators.{Aggregations, Relational, Skew}

/** Operational / lifecycle capability queries (SURVEY §2.4 A2–A3, §2.6 L7,
  * §2.7 incremental semantics) over the `events` micro-batch table.
  */
object OpsQueries {

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    // L7 retention delete as keep-filter rewrite (misa_crm_loader.py:384-427).
    // The predicate pushes to the parquet scan; on date-partitioned storage
    // it prunes partitions without reading them.
    QueryDef(
      "q13_retention",
      (spark, dir) =>
        Relational.retain(Tables.events(spark, dir), "ts",
            lit("2024-01-15 00:00:00").cast("timestamp"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("remaining"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS remaining FROM events
             |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // S7 incremental lookback with FAIL-OPEN nulls (misa_crm_extractor.py:
    // 267-282): late/duplicate-safe micro-batch input selection; rows with
    // missing timestamps are kept, never dropped.
    QueryDef(
      "q14_incremental_failopen",
      (spark, dir) =>
        Relational.lookbackFilter(Tables.events(spark, dir), "ts",
            lit("2024-01-29 00:00:00").cast("timestamp"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("batch_rows"),
            countDistinct(col("user_id")).as("batch_users"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS batch_rows,
             |COUNT(DISTINCT user_id) AS batch_users FROM events
             |WHERE ts >= TIMESTAMP '2024-01-29 00:00:00' OR ts IS NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // A2 staging summary (misa_crm_loader.py:325-382): rowcount, distinct
    // ids, last-load day, recency count per logical table (event_type here).
    QueryDef(
      "q15_staging_summary",
      (spark, dir) =>
        Aggregations.stagingSummary(Tables.events(spark, dir),
            groupCol = "event_type", idCol = "user_id", tsCol = "ts",
            recentCutoff = lit("2024-01-30 00:00:00").cast("timestamp"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS total_records,
             |COUNT(DISTINCT user_id) AS unique_ids,
             |CAST(MAX(ts) AS DATE) AS last_loaded_day,
             |CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS recent_records
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // A3 data-quality gate (production_etl_orchestrator.py:264-327): one
    // count per staging table + non-empty flag; the reference passes a cycle
    // iff ≥5/6 tables are non-empty.
    QueryDef(
      "q16_quality_gate",
      (spark, dir) =>
        Aggregations.qualityCounts(spark, dir,
            Seq("customer", "orders", "lineitem", "events", "documents", "embeddings"))
          .orderBy(col("table_name")),
      Some("""SELECT * FROM (
             |SELECT 'customer' AS table_name, COUNT(*) AS row_cnt, COUNT(*) > 0 AS non_empty FROM customer
             |UNION ALL SELECT 'orders', COUNT(*), COUNT(*) > 0 FROM orders
             |UNION ALL SELECT 'lineitem', COUNT(*), COUNT(*) > 0 FROM lineitem
             |UNION ALL SELECT 'events', COUNT(*), COUNT(*) > 0 FROM events
             |UNION ALL SELECT 'documents', COUNT(*), COUNT(*) > 0 FROM documents
             |UNION ALL SELECT 'embeddings', COUNT(*), COUNT(*) > 0 FROM embeddings
             |) ORDER BY table_name""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Column profiling — the A3 quality scan generalized to the per-column
    // statistics a curation pipeline reports: counts, null counts,
    // distincts, exact micro-unit sum (per-row decimal quantization, so
    // the integer sum is order-independent), and exact integer-
    // interpolated percentiles (Stats.orderStatsPermille over milli
    // values — ×1000 of milli = micro). All-BIGINT output per the
    // round-8 hash rule; the mean is derivable as
    // value_sum_micro / 10⁶ / (n_rows − value_nulls).
    QueryDef(
      "q44_profile",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val base = ev.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("value_nulls"),
          countDistinct(col("user_id")).as("distinct_users"),
          countDistinct(col("event_type")).as("distinct_types"),
          sum((col("value").cast(DecimalType(18, 6)) * lit(1000000)).cast("long"))
            .as("value_sum_micro"))
        val qs = graft.operators.Stats.orderStatsPermille(ev, lit(0),
            (col("value").cast(DecimalType(18, 3)) * lit(1000)).cast("long"),
            Seq(500, 950), bandWidth = 50000L)
          .select(col("p500_x1000").as("value_p50_micro"),
            col("p950_x1000").as("value_p95_micro"))
        base.crossJoin(broadcast(qs))
      },
      Some(s"""WITH ${graft.operators.Stats.orderStatsOracleSql(
                 "SELECT 0 AS g, CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v " +
                 "FROM events WHERE value IS NOT NULL", Seq(500, 950))}
             |SELECT COUNT(*) AS n_rows,
             |CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
             |COUNT(DISTINCT user_id) AS distinct_users,
             |COUNT(DISTINCT event_type) AS distinct_types,
             |CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS value_sum_micro,
             |(SELECT p500_x1000 FROM os_q) AS value_p50_micro,
             |(SELECT p950_x1000 FROM os_q) AS value_p95_micro
             |FROM events""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Z-score anomaly flagging per event_type: moments from DECIMAL sums
    // (exact, partition-order-independent), variance via the sum-of-
    // squares identity in identical double arithmetic on both engines —
    // no stddev_samp, whose Welford accumulation order is engine- and
    // partition-dependent. The stats side is one row per type →
    // broadcast back onto the events; conditional count keeps types with
    // zero outliers.
    QueryDef(
      "q55_anomaly",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val stats = ev.groupBy(col("event_type")).agg(
          count(col("value")).as("n"),
          Aggregations.dsum(col("value"), 28, 6).as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(28, 6)))
            .cast(DoubleType).as("s2"))
          .withColumn("mean", col("s1") / col("n"))
          // n=1 → NULL std (0/0 would be Spark-NaN vs DuckDB-NULL);
          // greatest(·, 0) clamps the 1-ulp-negative variance a constant
          // group can produce (DuckDB sqrt(neg) is a hard error).
          .withColumn("std", when(col("n") > 1, sqrt(greatest(
            (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1),
            lit(0.0)))))
        ev.join(broadcast(stats), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(when(abs(col("value") - col("mean")) > lit(3.0) * col("std"), 1L)
              .otherwise(0L)).cast("long").as("n_outliers"),
            // floor-to-micro BIGINT, not ROUND — the round-8 hash rule:
            // one IEEE multiply + exact floor of identical-operand
            // doubles is stable across engine versions.
            graft.operators.Stats.micro(max(col("mean"))).as("mean_micro"),
            graft.operators.Stats.micro(max(col("std"))).as("std_micro"))
          .orderBy(col("event_type"))
      },
      Some("""WITH stats AS (
             |  SELECT event_type, COUNT(value) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS s2
             |  FROM events GROUP BY event_type),
             |m AS (SELECT event_type, n, s1 / n AS mean,
             |    CASE WHEN n > 1 THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) END AS std
             |  FROM stats)
             |SELECT e.event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CASE WHEN abs(e.value - m.mean) > 3.0 * m.std THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  CAST(FLOOR(MAX(m.mean) * 1000000.0 + 0.5) AS BIGINT) AS mean_micro,
             |  CAST(FLOOR(MAX(m.std) * 1000000.0 + 0.5) AS BIGINT) AS std_micro
             |FROM events e JOIN m ON e.event_type = m.event_type
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Exact interpolated percentiles PER GROUP (q44 profiles globally),
    // in pure integer arithmetic: values quantize to milli BIGINTs, and
    // Stats.orderStatsPermille interpolates at k/1000 with integer
    // weights — p{50,90,99}_micro = 1000 × the milli quantile, exact, so
    // unlike percentile()/quantile_cont there is no last-ulp division
    // for two engines to disagree on (the round-8 hash rule). Banded
    // two-phase prefix sum; no global sort.
    QueryDef(
      "q56_percentiles_by_group",
      (spark, dir) =>
        graft.operators.Stats.orderStatsPermille(
            Tables.events(spark, dir), col("event_type"),
            (col("value").cast(DecimalType(18, 3)) * lit(1000)).cast("long"),
            Seq(500, 900, 990), bandWidth = 50000L)
          .select(col("g").as("event_type"), col("n"),
            col("p500_x1000").as("p50_micro"),
            col("p900_x1000").as("p90_micro"),
            col("p990_x1000").as("p99_micro"))
          .orderBy(col("event_type")),
      Some(s"""WITH ${graft.operators.Stats.orderStatsOracleSql(
                 "SELECT event_type AS g, CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v " +
                 "FROM events WHERE value IS NOT NULL", Seq(500, 900, 990))}
             |SELECT g AS event_type, n, p500_x1000 AS p50_micro,
             |  p900_x1000 AS p90_micro, p990_x1000 AS p99_micro
             |FROM os_q ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Group-wise winsorization: clip each group's metric to its own
    // [p05, p95] (exact interpolated percentiles, the q56 pairing) and
    // report the clipped-mass profile — outlier control before a metric
    // feeds training or an average. The percentile frame is groups-sized
    // and broadcasts back onto the fact stream; clip boundaries are
    // STRICT (a value equal to the fence is untouched), and the clipped
    // mass crosses the hash as the exact BIGINT sum of per-row
    // floor(clipped·10⁶) micro-units (round-8 discipline: floor of one
    // IEEE multiply, order-independent integer sum; the mean is
    // derivable as clipped_sum_micro / 10⁶ / n).
    QueryDef(
      "q111_winsorize",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val fences = ev.groupBy(col("event_type")).agg(
          expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"))
        ev.join(broadcast(fences), Seq("event_type"))
          .withColumn("clipped", least(greatest(col("value"), col("lo")), col("hi")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
            sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
            sum(graft.operators.Stats.micro(col("clipped"))).as("clipped_sum_micro"))
          .orderBy(col("event_type"))
      },
      Some("""WITH fences AS (SELECT event_type,
             |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
             |  FROM events GROUP BY event_type),
             |c AS (SELECT e.event_type, e.value,
             |    LEAST(GREATEST(e.value, f.lo), f.hi) AS clipped, f.lo, f.hi
             |  FROM events e JOIN fences f USING (event_type))
             |SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
             |  CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
             |  CAST(SUM(CAST(FLOOR(clipped * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS clipped_sum_micro
             |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Deterministic distribution profile: per-group mean / population
    // stddev / population skewness from EXACT integer sufficient
    // statistics — Spark's builtin skewness/kurtosis accumulate doubles
    // in partition order and drift run-to-run; here values quantize to
    // fixed-point milli-units, the power sums Σmu/Σmu²/Σmu³ and the
    // central-moment numerators (n·s2−s1², n²·s3−3n·s1·s2+2·s1³) stay in
    // DECIMAL(38,0)/HUGEINT integer space (sized to sf10: mu ≤ 4.9e5 →
    // n²·s3 ≈ 1e36 < 38 digits), and the only double steps are the final
    // divisions and one sqrt, identical-operand in both engines. The
    // milli-unit scale cancels exactly in skewness (×10³ᵏ top and
    // bottom).
    QueryDef(
      "q112_moments",
      (spark, dir) => {
        val d38 = DecimalType(38, 0)
        val mu = (col("value").cast(DecimalType(18, 3)) * lit(1000))
          .cast(org.apache.spark.sql.types.LongType)
        val stats = Tables.events(spark, dir)
          .select(col("event_type"), mu.as("mu"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).cast(d38).as("n"),
            sum(col("mu").cast(d38)).as("s1"),
            sum((col("mu").cast(d38) * col("mu").cast(d38))).as("s2"),
            sum((col("mu").cast(d38) * col("mu").cast(d38) * col("mu").cast(d38))).as("s3"))
        stats
          .withColumn("m2num", col("n") * col("s2") - col("s1") * col("s1"))
          .withColumn("m3num", col("n") * col("n") * col("s3") -
            lit(3) * col("n") * col("s1") * col("s2") +
            lit(2) * col("s1") * col("s1") * col("s1"))
          // Round-8 hash discipline: the identical-operand IEEE finals
          // are floored to micro-units as BIGINT (floor of one multiply
          // is version-stable where ROUND-at-scale was not; floor is
          // toward −∞ in both engines, safe for negative mean/skewness).
          .select(col("event_type"), col("n").cast("long").as("n"),
            graft.operators.Stats.micro(col("s1").cast(DoubleType) / col("n").cast(DoubleType) / lit(1000.0))
              .as("mean_micro"),
            graft.operators.Stats.micro(sqrt(col("m2num").cast(DoubleType)) / col("n").cast(DoubleType) / lit(1000.0))
              .as("stddev_pop_micro"),
            graft.operators.Stats.micro(col("m3num").cast(DoubleType) /
              (col("m2num").cast(DoubleType) * sqrt(col("m2num").cast(DoubleType))))
              .as("skewness_micro"))
          .orderBy(col("event_type"))
      },
      Some("""WITH base AS (SELECT event_type,
             |    CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS mu FROM events),
             |stats AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             |    CAST(SUM(CAST(mu AS HUGEINT)) AS HUGEINT) AS s1,
             |    CAST(SUM(CAST(mu AS HUGEINT) * mu) AS HUGEINT) AS s2,
             |    CAST(SUM(CAST(mu AS HUGEINT) * mu * mu) AS HUGEINT) AS s3
             |  FROM base GROUP BY event_type),
             |m AS (SELECT event_type, n,
             |    n * s2 - s1 * s1 AS m2num,
             |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3num,
             |    s1 FROM stats)
             |SELECT event_type, CAST(n AS BIGINT) AS n,
             |  CAST(FLOOR(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 * 1000000.0 + 0.5) AS BIGINT) AS mean_micro,
             |  CAST(FLOOR(sqrt(CAST(m2num AS DOUBLE)) / CAST(n AS DOUBLE) / 1000.0 * 1000000.0 + 0.5) AS BIGINT) AS stddev_pop_micro,
             |  CAST(FLOOR(CAST(m3num AS DOUBLE)
             |    / (CAST(m2num AS DOUBLE) * sqrt(CAST(m2num AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS skewness_micro
             |FROM m ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Pearson correlation matrix over the lineitem measures in ONE
    // aggregation pass — the feature-redundancy scan run before model
    // training or mart design. All sufficient statistics (n, Σx, Σx²,
    // Σxy per pair) are exact DECIMAL(38,0)/HUGEINT sums of cent-
    // quantized values (the q112 discipline: fixed-point scales cancel
    // in r); doubles appear only in the final identical-operand
    // division, with separate sqrt's per variance so nothing overflows
    // 38 digits. The melt to 6 pair rows happens on the one-row stats
    // frame, never on data.
    QueryDef(
      "q124_corr_matrix",
      (spark, dir) => {
        def cents(c: String) =
          (col(c).cast(DecimalType(18, 2)) * lit(100)).cast("long")
        graft.operators.Stats.corrMatrix(Tables.lineitem(spark, dir), Seq(
            "quantity" -> cents("l_quantity"),
            "extendedprice" -> cents("l_extendedprice"),
            "discount" -> cents("l_discount"),
            "tax" -> cents("l_tax")))
          .orderBy(col("var_a"), col("var_b"))
      },
      Some("""WITH base AS (SELECT
             |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
             |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d,
             |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
             |  FROM lineitem),
             |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             |    SUM(CAST(q AS HUGEINT)) AS s_q, SUM(CAST(p AS HUGEINT)) AS s_p,
             |    SUM(CAST(d AS HUGEINT)) AS s_d, SUM(CAST(t AS HUGEINT)) AS s_t,
             |    SUM(CAST(q AS HUGEINT) * q) AS ss_q, SUM(CAST(p AS HUGEINT) * p) AS ss_p,
             |    SUM(CAST(d AS HUGEINT) * d) AS ss_d, SUM(CAST(t AS HUGEINT) * t) AS ss_t,
             |    SUM(CAST(q AS HUGEINT) * p) AS sp_qp, SUM(CAST(q AS HUGEINT) * d) AS sp_qd,
             |    SUM(CAST(q AS HUGEINT) * t) AS sp_qt, SUM(CAST(p AS HUGEINT) * d) AS sp_pd,
             |    SUM(CAST(p AS HUGEINT) * t) AS sp_pt, SUM(CAST(d AS HUGEINT) * t) AS sp_dt
             |  FROM base),
             |r AS (SELECT var_a, var_b, CAST(n AS BIGINT) AS n,
             |    CASE WHEN va > 0 AND vb > 0 THEN CAST(FLOOR(CAST(cov AS DOUBLE)
             |      / (sqrt(CAST(va AS DOUBLE)) * sqrt(CAST(vb AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
             |    END AS corr_micro
             |  FROM (
             |    SELECT 'quantity' AS var_a, 'extendedprice' AS var_b, n,
             |      n*sp_qp - s_q*s_p AS cov, n*ss_q - s_q*s_q AS va, n*ss_p - s_p*s_p AS vb FROM s
             |    UNION ALL SELECT 'quantity', 'discount', n,
             |      n*sp_qd - s_q*s_d, n*ss_q - s_q*s_q, n*ss_d - s_d*s_d FROM s
             |    UNION ALL SELECT 'quantity', 'tax', n,
             |      n*sp_qt - s_q*s_t, n*ss_q - s_q*s_q, n*ss_t - s_t*s_t FROM s
             |    UNION ALL SELECT 'extendedprice', 'discount', n,
             |      n*sp_pd - s_p*s_d, n*ss_p - s_p*s_p, n*ss_d - s_d*s_d FROM s
             |    UNION ALL SELECT 'extendedprice', 'tax', n,
             |      n*sp_pt - s_p*s_t, n*ss_p - s_p*s_p, n*ss_t - s_t*s_t FROM s
             |    UNION ALL SELECT 'discount', 'tax', n,
             |      n*sp_dt - s_d*s_t, n*ss_d - s_d*s_d, n*ss_t - s_t*s_t FROM s))
             |SELECT var_a, var_b, n, corr_micro FROM r ORDER BY var_a, var_b""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Schema-generic column profiling: q44's hand-written events profile
    // generalized — Aggregations.profileColumns derives the statistics
    // from df.schema and computes EVERY column's nulls/distincts/min/max
    // in one aggregation pass (one scan total; a per-column loop scans
    // once per column), melted to long form via stack. Fractional
    // columns surface NULL min/max (double formatting is engine-specific;
    // the numeric profile belongs to q44's DECIMAL-disciplined path).
    QueryDef(
      "q117_profile_any",
      (spark, dir) =>
        graft.operators.Aggregations.profileColumns(Tables.documents(spark, dir))
          .orderBy(col("column_name")),
      Some("""SELECT * FROM (
             |  SELECT 'doc_id' AS column_name, 'bigint' AS dtype, COUNT(*) AS n_rows,
             |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |    COUNT(DISTINCT doc_id) AS n_distinct,
             |    CAST(MIN(doc_id) AS VARCHAR) AS min_str, CAST(MAX(doc_id) AS VARCHAR) AS max_str
             |  FROM documents
             |  UNION ALL SELECT 'text', 'string', COUNT(*),
             |    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    COUNT(DISTINCT text), MIN(text), MAX(text) FROM documents
             |  UNION ALL SELECT 'lang', 'string', COUNT(*),
             |    CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    COUNT(DISTINCT lang), MIN(lang), MAX(lang) FROM documents
             |  UNION ALL SELECT 'source', 'string', COUNT(*),
             |    CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    COUNT(DISTINCT source), MIN(source), MAX(source) FROM documents
             |  UNION ALL SELECT 'n_chars', 'bigint', COUNT(*),
             |    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    COUNT(DISTINCT n_chars),
             |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
             |) ORDER BY column_name""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Referential-integrity audit: for each FK relationship, orphaned
    // child rows (anti-join child→parent) and unreferenced parent rows
    // (anti-join parent→child-keys) — the structural extension of the
    // reference's count-reconciliation validation
    // (`validate_staging_tables.py`-style row counting tells you SIZES
    // match; this tells you the KEYS actually join). Each relationship
    // is two anti-join counts; the distinct child-key frame is the only
    // shuffle that matters and at 100 TB the parent side broadcasts or
    // bloom-prefilters (q81).
    QueryDef(
      "q114_ri_audit",
      (spark, dir) => {
        def rel(name: String, child: org.apache.spark.sql.DataFrame, ck: String,
            parent: org.apache.spark.sql.DataFrame, pk: String) = {
          val orphans = child.join(parent.select(col(pk).as(ck)), Seq(ck), "left_anti")
          val unref = parent.join(child.select(col(ck).as(pk)).distinct(), Seq(pk), "left_anti")
          child.agg(count(lit(1)).as("n_child")).crossJoin(
              orphans.agg(count(lit(1)).as("n_orphan_child")))
            .crossJoin(parent.agg(count(lit(1)).as("n_parent")))
            .crossJoin(unref.agg(count(lit(1)).as("n_parent_unreferenced")))
            .select(lit(name).as("relationship"), col("n_child"),
              col("n_orphan_child"), col("n_parent"), col("n_parent_unreferenced"))
        }
        rel("lineitem.l_partkey->part", Tables.lineitem(spark, dir), "l_partkey",
            Tables.part(spark, dir), "p_partkey")
          .unionByName(rel("lineitem.l_suppkey->supplier", Tables.lineitem(spark, dir),
            "l_suppkey", Tables.supplier(spark, dir), "s_suppkey"))
          .unionByName(rel("orders.o_custkey->customer", Tables.orders(spark, dir),
            "o_custkey", Tables.customer(spark, dir), "c_custkey"))
          .orderBy(col("relationship"))
      },
      Some("""WITH r1 AS (SELECT 'lineitem.l_partkey->part' AS relationship,
             |  (SELECT COUNT(*) FROM lineitem) AS n_child,
             |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
             |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS n_orphan_child,
             |  (SELECT COUNT(*) FROM part) AS n_parent,
             |  (SELECT COUNT(*) FROM part p WHERE NOT EXISTS
             |    (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)) AS n_parent_unreferenced),
             |r2 AS (SELECT 'lineitem.l_suppkey->supplier',
             |  (SELECT COUNT(*) FROM lineitem),
             |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
             |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
             |  (SELECT COUNT(*) FROM supplier),
             |  (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
             |    (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))),
             |r3 AS (SELECT 'orders.o_custkey->customer',
             |  (SELECT COUNT(*) FROM orders),
             |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
             |  (SELECT COUNT(*) FROM customer),
             |  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
             |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)))
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
             |ORDER BY relationship""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Chi-square independence test: event_type × fixed value band
    // (<100 / 100–300 / ≥300) contingency table, χ² from exact observed
    // counts with expected = row·col/n. Each cell's (obs−exp)²/exp term
    // (identical-operand IEEE, nonnegative) is floored to micro-units as
    // BIGINT before the exact integer sum — the round-8 hash discipline;
    // a bare double Σ over cells would depend on each engine's summation
    // order, and ROUND-at-scale shifted between DuckDB releases. The
    // contingency table is |types|×|bands|-sized; one count agg over the
    // facts is the only data-sized operation.
    QueryDef(
      "q115_chi_square",
      (spark, dir) => {
        val banded = Tables.events(spark, dir)
          .select(col("event_type"),
            when(col("value") < 100.0, "lo")
              .when(col("value") < 300.0, "mid").otherwise("hi").as("band"))
        val cells = banded.groupBy(col("event_type"), col("band"))
          .agg(count(lit(1)).as("obs"))
        val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
        val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("band"))
        val wn = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1)) // cells-sized frame: the single partition is fine
        cells
          .withColumn("rt", sum(col("obs")).over(wr))
          .withColumn("ct", sum(col("obs")).over(wc))
          .withColumn("n", sum(col("obs")).over(wn))
          .withColumn("exp",
            col("rt").cast(DoubleType) * col("ct").cast(DoubleType) / col("n").cast(DoubleType))
          .withColumn("term_micro",
            graft.operators.Stats.micro((col("obs").cast(DoubleType) - col("exp")) *
              (col("obs").cast(DoubleType) - col("exp")) / col("exp")))
          .groupBy(col("n"))
          .agg(count(lit(1)).as("n_cells"),
            sum(col("term_micro")).as("chi2_micro"))
          .select(col("n"), col("n_cells"), col("chi2_micro"),
            lit(8L).as("dof")) // (5 types − 1) × (3 bands − 1)
      },
      Some("""WITH banded AS (SELECT event_type,
             |    CASE WHEN value < 100.0 THEN 'lo' WHEN value < 300.0 THEN 'mid' ELSE 'hi' END AS band
             |  FROM events),
             |cells AS (SELECT event_type, band, COUNT(*) AS obs FROM banded GROUP BY event_type, band),
             |x AS (SELECT obs,
             |    SUM(obs) OVER (PARTITION BY event_type) AS rt,
             |    SUM(obs) OVER (PARTITION BY band) AS ct,
             |    SUM(obs) OVER () AS n
             |  FROM cells),
             |t AS (SELECT n, CAST(FLOOR(
             |    (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             |    * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             |    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             |    * 1000000.0 + 0.5) AS BIGINT) AS term_micro
             |  FROM x)
             |SELECT CAST(n AS BIGINT) AS n, COUNT(*) AS n_cells,
             |  CAST(SUM(term_micro) AS BIGINT) AS chi2_micro, CAST(8 AS BIGINT) AS dof
             |FROM t GROUP BY n""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Z-order (Morton) clustering key — the data-layout primitive for
    // multi-dimensional file skipping (a write range-partitioned and
    // sorted by it keeps every key column's per-file range tight). The oracle
    // replays the bit interleave as plain integer div/mod arithmetic.
    QueryDef(
      "q58_zorder_key",
      (spark, dir) =>
        Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"),
            floor(col("value") / 2).cast("long").as("vbucket"))
          .withColumn("zkey", graft.operators.ZOrder.zkey(
            Seq(col("user_id"), col("vbucket")), bits = 10))
          .orderBy(col("event_id"))
          .limit(500),
      Some {
        // Mirror zkey's saturation: clamp into [0, 2^bits) before the
        // bit extraction (no-op at sf0.01's domains, load-bearing at
        // scale factors where user_id exceeds 1023).
        val terms = (0 until 10).flatMap { i =>
          Seq(s"((uc // ${1L << i}) % 2) * ${1L << (2 * i)}",
            s"((vc // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
        }.mkString(" + ")
        s"""WITH b AS (SELECT event_id, user_id,
           |    CAST(floor(value / 2) AS BIGINT) AS vbucket FROM events),
           |c AS (SELECT event_id, user_id, vbucket,
           |    LEAST(GREATEST(user_id, 0), 1023) AS uc,
           |    LEAST(GREATEST(vbucket, 0), 1023) AS vc FROM b)
           |SELECT event_id, user_id, vbucket, CAST($terms AS BIGINT) AS zkey
           |FROM c ORDER BY event_id LIMIT 500""".stripMargin
      },
    ),

    // ----------------------------------------------------------------
    // MAD-based robust outliers per event_type — the median-of-deviations
    // counterpart to q55's z-score: immune to the outliers it is hunting
    // (a single 1e9 reading shifts a mean/stddev gate but not a median
    // gate). EVERYTHING is integer (round-8 rule): values quantize to
    // milli BIGINTs, the median is the exact ×1000 integer interpolation
    // (→ micro), deviations |v·1000 − med_micro| are exact micro ints,
    // the MAD is their ×1000 interpolation (→ nano), and the outlier
    // test adev·3000 > 3·mad_nano… i.e. adev_micro·1000 > 3·mad_nano is
    // a pure integer comparison. Shape: two banded order-stat passes
    // (group-count-sized results, broadcast back); no global sort.
    QueryDef(
      "q69_mad_outlier",
      (spark, dir) => {
        val evm = Tables.events(spark, dir)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            (col("value").cast(DecimalType(18, 3)) * lit(1000)).cast("long").as("vm"))
        val med = graft.operators.Stats.orderStatsPermille(
            evm, col("event_type"), col("vm"), Seq(500), bandWidth = 50000L)
          .select(col("g").as("event_type"), col("p500_x1000").as("med_micro"))
        val dev = evm.join(broadcast(med), Seq("event_type"))
          .withColumn("adev_micro", abs(col("vm") * lit(1000L) - col("med_micro")))
        val mads = graft.operators.Stats.orderStatsPermille(
            dev, col("event_type"), col("adev_micro"), Seq(500), bandWidth = 50000000L)
          .select(col("g").as("event_type"), col("p500_x1000").as("mad_nano"))
        dev.join(broadcast(mads), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            max(col("med_micro")).as("median_micro"),
            max(col("mad_nano")).as("mad_nano"),
            sum(when(col("adev_micro") * lit(1000L) > lit(3L) * col("mad_nano"), 1L)
              .otherwise(0L)).cast("long").as("n_outliers"))
          .orderBy(col("event_type"))
      },
      Some {
        val medSql = graft.operators.Stats.orderStatsOracleSql(
          "SELECT event_type AS g, CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v " +
            "FROM events WHERE value IS NOT NULL", Seq(500), prefix = "med")
        val madSql = graft.operators.Stats.orderStatsOracleSql(
          "SELECT event_type AS g, adev_micro AS v FROM dev", Seq(500), prefix = "mad")
        s"""WITH $medSql,
           |dev AS (SELECT v.g AS event_type, v.v AS vm,
           |    abs(v.v * 1000 - m.p500_x1000) AS adev_micro, m.p500_x1000 AS med_micro
           |  FROM med_v v JOIN med_q m USING (g)),
           |$madSql
           |SELECT d.event_type, COUNT(*) AS n_events,
           |  MAX(d.med_micro) AS median_micro,
           |  MAX(q.p500_x1000) AS mad_nano,
           |  CAST(SUM(CASE WHEN d.adev_micro * 1000 > 3 * q.p500_x1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           |FROM dev d JOIN mad_q q ON q.g = d.event_type
           |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin
      },
    ),

    // ----------------------------------------------------------------
    // Key-skew report: the pre-join diagnostic that decides whether a key
    // needs q52's salting (or AQE skew splitting). One |keys|-sized
    // count aggregate, exact integer-interpolated count percentiles
    // (×1000), TakeOrdered top-10, ppm ratios — never a full sort and
    // (round-8 rule) never a float across the hash. The oracle replays
    // counts, row_number order statistics, and the tie-broken top-10.
    QueryDef(
      "q89_skew_report",
      (spark, dir) =>
        Skew.skewReport(Tables.events(spark, dir), "user_id"),
      Some(s"""WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY user_id),
             |${graft.operators.Stats.orderStatsOracleSql(
                 "SELECT 0 AS g, cnt AS v FROM c", Seq(500, 990))},
             |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             |  CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_cnt FROM c),
             |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS top10_rows FROM
             |  (SELECT cnt FROM c ORDER BY cnt DESC, user_id LIMIT 10))
             |SELECT s.n_keys, s.n_rows, s.max_cnt,
             |  q.p500_x1000 AS p50_cnt_x1000, q.p990_x1000 AS p99_cnt_x1000,
             |  CAST((CAST(s.max_cnt AS HUGEINT) * s.n_keys * 1000000) // s.n_rows AS BIGINT) AS skew_ratio_ppm,
             |  CAST((CAST(t.top10_rows AS HUGEINT) * 1000000) // s.n_rows AS BIGINT) AS top10_share_ppm
             |FROM s, t, os_q q""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // k-anonymity audit over quasi-identifier columns — the privacy
    // governance check a training-data release runs beside the PII scrub
    // (q72): a record whose (source, lang, length-bucket) combination is
    // shared by fewer than k corpus rows is re-identifiable at that k.
    // Sweeney's k-anonymity measured, not enforced: per k ∈ {2, 5, 10},
    // how many QI equivalence classes and rows fall below k, and what
    // corpus fraction (ppm) that is. ONE |classes|-sized aggregate feeds
    // every threshold (q138's one-pass conditional-sum shape: thresholds
    // explode from the single aggregate row, never the class frame).
    // All-BIGINT output.
    QueryDef(
      "q140_k_anonymity",
      (spark, dir) =>
        graft.operators.Privacy.kAnonymityAudit(Tables.documents(spark, dir),
          qi = Seq(col("source"), col("lang"),
            floor(col("n_chars") / lit(500)).as("len_bucket")),
          ks = Seq(2L, 5L, 10L)),
      Some("""WITH q AS (SELECT source, lang,
             |    CAST(FLOOR(n_chars / 500) AS BIGINT) AS len_bucket FROM documents),
             |c AS (SELECT source, lang, len_bucket, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM q GROUP BY source, lang, len_bucket),
             |t(k) AS (VALUES (2), (5), (10)),
             |ag AS (SELECT t.k,
             |    CAST(COUNT(*) AS BIGINT) AS n_classes,
             |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
             |    CAST(SUM(CASE WHEN cnt < t.k THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
             |    CAST(SUM(CASE WHEN cnt < t.k THEN cnt ELSE 0 END) AS BIGINT) AS rows_below_k
             |  FROM c, t GROUP BY t.k)
             |SELECT CAST(k AS BIGINT) AS k, n_classes, n_rows, classes_below_k, rows_below_k,
             |  (rows_below_k * 1000000) // n_rows AS rows_below_ppm
             |FROM ag ORDER BY k""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // l-diversity audit (Machanavajjhala et al.) — q140's successor
    // attack: a k-anonymous class whose members all share ONE sensitive
    // value (here: source) discloses it regardless of class size. Per
    // l ∈ {5, 10, 15}: QI classes spanning fewer than l distinct sources,
    // the rows they cover, and the corpus fraction as exact ppm. Two
    // pair-sized aggregates + one scalar aggregate; the per-l rows
    // explode from the single aggregate row (q140's shape). All-BIGINT.
    QueryDef(
      "q144_l_diversity",
      (spark, dir) =>
        graft.operators.Privacy.lDiversityAudit(Tables.documents(spark, dir),
          qi = Seq(col("lang"), floor(col("n_chars") / lit(100)).as("len_bucket")),
          sensitive = col("source"), ls = Seq(5L, 10L, 15L)),
      Some("""WITH q AS (SELECT lang,
             |    CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_bucket, source FROM documents),
             |c AS (SELECT lang, len_bucket,
             |    CAST(COUNT(DISTINCT source) AS BIGINT) AS ndv,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM q GROUP BY lang, len_bucket),
             |t(l) AS (VALUES (5), (10), (15)),
             |ag AS (SELECT t.l,
             |    CAST(COUNT(*) AS BIGINT) AS n_classes,
             |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
             |    CAST(SUM(CASE WHEN ndv < t.l THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_l,
             |    CAST(SUM(CASE WHEN ndv < t.l THEN cnt ELSE 0 END) AS BIGINT) AS rows_below_l
             |  FROM c, t GROUP BY t.l)
             |SELECT CAST(l AS BIGINT) AS l, n_classes, n_rows, classes_below_l, rows_below_l,
             |  (rows_below_l * 1000000) // n_rows AS rows_below_ppm
             |FROM ag ORDER BY l""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // t-closeness audit (Li, Li & Venkatasubramanian) — the attack BOTH
    // q140 and q144 miss: a class can be large and source-diverse yet
    // leak through a skewed source mix. Per class, the exact total
    // variation distance between its source distribution and the
    // corpus-wide one, as integer ppm (cross-multiplied BIGINT/DECIMAL
    // counts, absent sensitive values folded in closed form — no
    // class×domain densify, no float anywhere); per threshold, classes
    // and rows exceeding it. Oracle replays the identical integer
    // arithmetic over a DuckDB window.
    QueryDef(
      "q145_t_closeness",
      (spark, dir) =>
        graft.operators.Privacy.tClosenessAudit(Tables.documents(spark, dir),
          qi = Seq(col("lang"), floor(col("n_chars") / lit(100)).as("len_bucket")),
          sensitive = col("source"),
          thresholdsPpm = Seq(300000L, 500000L, 700000L)),
      Some("""WITH q AS (SELECT lang,
             |    CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_bucket, source FROM documents),
             |p AS (SELECT lang, len_bucket, source,
             |    CAST(COUNT(*) AS HUGEINT) AS c_s FROM q GROUP BY 1, 2, 3),
             |g AS (SELECT source, CAST(SUM(c_s) AS HUGEINT) AS g_s FROM p GROUP BY source),
             |n AS (SELECT CAST(SUM(g_s) AS HUGEINT) AS n_total FROM g),
             |p2 AS (SELECT *, SUM(c_s) OVER (PARTITION BY lang, len_bucket) AS m FROM p),
             |cl AS (SELECT lang, len_bucket, ANY_VALUE(m) AS m,
             |    ANY_VALUE(n.n_total) AS n_total,
             |    SUM(ABS(c_s * n.n_total - g_s * m)) AS present_dev,
             |    SUM(g_s) AS g_present
             |  FROM p2 JOIN g USING (source), n GROUP BY lang, len_bucket),
             |tv AS (SELECT CAST(m AS BIGINT) AS m,
             |    CAST(((present_dev + m * (n_total - g_present)) * 1000000)
             |      // (m * n_total * 2) AS BIGINT) AS tvd_ppm FROM cl),
             |t(t_ppm) AS (VALUES (300000), (500000), (700000)),
             |ag AS (SELECT t.t_ppm,
             |    CAST(COUNT(*) AS BIGINT) AS n_classes,
             |    CAST(SUM(m) AS BIGINT) AS n_rows,
             |    CAST(MAX(tvd_ppm) AS BIGINT) AS max_tvd_ppm,
             |    CAST(SUM(CASE WHEN tvd_ppm > t.t_ppm THEN 1 ELSE 0 END) AS BIGINT) AS classes_above_t,
             |    CAST(SUM(CASE WHEN tvd_ppm > t.t_ppm THEN m ELSE 0 END) AS BIGINT) AS rows_above_t
             |  FROM tv, t GROUP BY t.t_ppm)
             |SELECT CAST(t_ppm AS BIGINT) AS t_ppm, n_classes, n_rows, max_tvd_ppm,
             |  classes_above_t, rows_above_t,
             |  (rows_above_t * 1000000) // n_rows AS rows_above_ppm
             |FROM ag ORDER BY t_ppm""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Per-source ADAPTIVE quality gate: a fixed global "too short"
    // cutoff (q29/q131's absolute thresholds) systematically over-prunes
    // terse feeds and under-prunes verbose ones; the adaptive gate flags
    // each document against ITS OWN source's exact p25 token count —
    // Stats.orderStatsPermille feeding a production filter, the loop the
    // round-8 advice asked the audits to close. The gate comparison is
    // exact integer (n_tokens·1000 < p250_x1000 — strictly below the
    // interpolated quartile); the |sources|-bounded threshold frame is
    // broadcast back onto the corpus. The token frame feeds both the
    // order-stats pass and the gate join, so it is session-cached — one
    // tokenize pass, not two. All-BIGINT output.
    QueryDef(
      "q152_adaptive_gate",
      (spark, dir) => {
        val toks = graft.core.CacheScope.cached(
          Tables.documents(spark, dir).select(col("doc_id"), col("source"),
            size(filter(graft.operators.TextAnalysis.tokens(col("text")),
              t => length(t) > 0)).cast("long").as("n_tokens")))
        val th = graft.operators.Stats.orderStatsPermille(
          toks, col("source"), col("n_tokens"), Seq(250), bandWidth = 64L)
        toks.join(broadcast(th), toks("source") === th("g"))
          .groupBy(col("source"), col("n"), col("p250_x1000"))
          .agg(sum(when(col("n_tokens") * 1000 < col("p250_x1000"), 1L)
            .otherwise(0L)).as("n_flagged"))
          .select(col("source"), col("n").as("n_docs"), col("p250_x1000"),
            col("n_flagged"),
            expr("(n_flagged * 1000000) div n").as("flagged_ppm"))
          .orderBy(col("source"))
      },
      Some(s"""WITH ${graft.operators.Stats.orderStatsOracleSql(
                 "SELECT source AS g, CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
                 "x -> len(x) > 0)) AS BIGINT) AS v FROM documents", Seq(250))},
             |d AS (SELECT source,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             |      x -> len(x) > 0)) AS BIGINT) AS n_tokens FROM documents)
             |SELECT d.source, os_q.n AS n_docs, os_q.p250_x1000,
             |  CAST(SUM(CASE WHEN d.n_tokens * 1000 < os_q.p250_x1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             |  (CAST(SUM(CASE WHEN d.n_tokens * 1000 < os_q.p250_x1000 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             |    // os_q.n AS flagged_ppm
             |FROM d JOIN os_q ON d.source = os_q.g
             |GROUP BY d.source, os_q.n, os_q.p250_x1000
             |ORDER BY d.source""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Functional-dependency audit: exact violation counts for candidate
    // lhs -> rhs dependencies — the profiling read that catches a
    // silently-denormalized dimension before a MERGE keys on it. On
    // orders: o_orderkey -> o_custkey HOLDS (clean PK), o_custkey ->
    // o_orderstatus is fully violated (every customer has mixed
    // statuses), o_orderdate -> o_orderpriority violates on ~25% of
    // dates. One cached 4-column projection feeds all three pairs.
    QueryDef(
      "q189_fd_audit",
      (spark, dir) =>
        graft.operators.Validators.fdAudit(
          Tables.orders(spark, dir),
          Seq(
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderstatus"),
            ("o_orderdate", "o_orderpriority"))),
      Some("""WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_orderpriority FROM orders),
             |p1 AS (SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs, COUNT(*) AS n_groups,
             |    CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
             |    CAST(MAX(c) AS BIGINT) AS max_rhs_card
             |  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS c FROM src GROUP BY o_orderkey)),
             |p2 AS (SELECT 'o_custkey', 'o_orderstatus', COUNT(*),
             |    CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(MAX(c) AS BIGINT)
             |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderstatus) AS c FROM src GROUP BY o_custkey)),
             |p3 AS (SELECT 'o_orderdate', 'o_orderpriority', COUNT(*),
             |    CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(MAX(c) AS BIGINT)
             |  FROM (SELECT o_orderdate, COUNT(DISTINCT o_orderpriority) AS c FROM src GROUP BY o_orderdate)),
             |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
             |SELECT lhs, rhs, CAST(n_groups AS BIGINT) AS n_groups, violating_groups, max_rhs_card,
             |  violating_groups = 0 AS holds,
             |  CAST((violating_groups * 1000000) // n_groups AS BIGINT) AS viol_ppm
             |FROM u""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Per-day integrity manifest on the event stream: row count + an
    // order-independent XOR-of-md5 content checksum per day — validate a
    // replication/backfill/engine-migration by comparing manifests, not
    // tables. The checksum is partition- and shuffle-order independent
    // by construction (XOR is commutative); floats enter as fixed-point
    // micro integers so the canonical string is engine-stable. Costs
    // what a count(*) costs: one scan, one keyed aggregation.
    QueryDef(
      "q193_partition_checksum",
      (spark, dir) =>
        graft.operators.Validators.partitionChecksum(
          Tables.events(spark, dir),
          col("ts").cast("date"),
          Seq(
            ("id", col("event_id")),
            ("ts", unix_micros(col("ts"))),
            ("u", col("user_id")),
            ("t", col("event_type")),
            ("v", (col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 6)) * lit(1000000)).cast("long")),
            ("p", col("props")))),
      Some("""WITH esc AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS part,
             |    replace(replace(replace(CAST(event_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\=') AS f_id,
             |    replace(replace(replace(CAST(epoch_us(ts) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\=') AS f_ts,
             |    replace(replace(replace(CAST(user_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\=') AS f_u,
             |    replace(replace(replace(event_type, '\', '\\'), '|', '\|'), '=', '\=') AS f_t,
             |    replace(replace(replace(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\=') AS f_v,
             |    replace(replace(replace(props, '\', '\\'), '|', '\|'), '=', '\=') AS f_p
             |  FROM events),
             |ev AS (SELECT part,
             |    'id=' || COALESCE(f_id, '\N') ||
             |    '|ts=' || COALESCE(f_ts, '\N') ||
             |    '|u=' || COALESCE(f_u, '\N') ||
             |    '|t=' || COALESCE(f_t, '\N') ||
             |    '|v=' || COALESCE(f_v, '\N') ||
             |    '|p=' || COALESCE(f_p, '\N') AS canon
             |  FROM esc),
             |h AS (SELECT part, CAST(('0x' || substr(md5(canon), 1, 15)) AS BIGINT) AS h60 FROM ev)
             |SELECT part, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(bit_xor(h60) AS BIGINT) AS xor_checksum
             |FROM h GROUP BY part""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Manifest diff — the validation step q193's manifests exist for:
    // against a deliberately-perturbed replica (one day dropped, one
    // day's rows partially dropped, one day's values shifted), the diff
    // reports exactly missing_right + count_mismatch +
    // checksum_mismatch + 27 matches at every scale factor. Count is
    // checked before checksum (XOR can collide on pair-cancelling
    // edits; cardinality cannot). The expensive scans happen once per
    // side; the diff is a full-outer join of two |partitions|-row
    // frames — the one deliberate SMJ of the round (full outer cannot
    // broadcast; both sides manifest-sized).
    QueryDef(
      "q195_manifest_diff",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val day = col("ts").cast("date")
        val perturbed = ev
          .filter(day =!= lit("2024-01-09").cast("date") &&
            !(day === lit("2024-01-22").cast("date") &&
              pmod(col("event_id"), lit(3L)) === 0))
          .withColumn("value",
            when(day === lit("2024-01-17").cast("date"),
              col("value") + 10.0).otherwise(col("value")))
        def manifest(df: org.apache.spark.sql.DataFrame) =
          graft.operators.Validators.partitionChecksum(
            df, col("ts").cast("date"),
            Seq(
              ("id", col("event_id")),
              ("ts", unix_micros(col("ts"))),
              ("u", col("user_id")),
              ("t", col("event_type")),
              ("v", (col("value").cast(org.apache.spark.sql.types
                .DecimalType(18, 6)) * lit(1000000)).cast("long")),
              ("p", col("props"))))
        graft.operators.Validators.manifestDiff(manifest(ev),
          manifest(perturbed))
      },
      Some("""WITH ev AS (SELECT event_id, ts, user_id, event_type, value, props,
             |    CAST(CAST(ts AS DATE) AS VARCHAR) AS part FROM events),
             |evb AS (SELECT event_id, ts, user_id, event_type,
             |    CASE WHEN CAST(ts AS DATE) = DATE '2024-01-17' THEN value + 10.0 ELSE value END AS value,
             |    props, part FROM ev
             |  WHERE CAST(ts AS DATE) != DATE '2024-01-09'
             |    AND NOT (CAST(ts AS DATE) = DATE '2024-01-22' AND event_id % 3 = 0)),
             |ca AS (SELECT part,
             |    'id=' || COALESCE(replace(replace(replace(CAST(event_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|ts=' || COALESCE(replace(replace(replace(CAST(epoch_us(ts) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|u=' || COALESCE(replace(replace(replace(CAST(user_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|t=' || COALESCE(replace(replace(replace(event_type, '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|v=' || COALESCE(replace(replace(replace(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|p=' || COALESCE(replace(replace(replace(props, '\', '\\'), '|', '\|'), '=', '\='), '\N') AS canon FROM ev),
             |cb AS (SELECT part,
             |    'id=' || COALESCE(replace(replace(replace(CAST(event_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|ts=' || COALESCE(replace(replace(replace(CAST(epoch_us(ts) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|u=' || COALESCE(replace(replace(replace(CAST(user_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|t=' || COALESCE(replace(replace(replace(event_type, '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|v=' || COALESCE(replace(replace(replace(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') ||
             |    '|p=' || COALESCE(replace(replace(replace(props, '\', '\\'), '|', '\|'), '=', '\='), '\N') AS canon FROM evb),
             |m1 AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |    CAST(bit_xor(CAST(('0x' || substr(md5(canon), 1, 15)) AS BIGINT)) AS BIGINT) AS xc FROM ca GROUP BY part),
             |m2 AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |    CAST(bit_xor(CAST(('0x' || substr(md5(canon), 1, 15)) AS BIGINT)) AS BIGINT) AS xc FROM cb GROUP BY part)
             |SELECT COALESCE(m1.part, m2.part) AS part, m1.n_rows AS n_rows_a, m2.n_rows AS n_rows_b,
             |  CASE WHEN m1.part IS NULL THEN 'missing_left'
             |    WHEN m2.part IS NULL THEN 'missing_right'
             |    WHEN m1.n_rows != m2.n_rows THEN 'count_mismatch'
             |    WHEN m1.xc != m2.xc THEN 'checksum_mismatch'
             |    ELSE 'match' END AS status
             |FROM m1 FULL OUTER JOIN m2 ON m1.part = m2.part""".stripMargin),
    ),
    // ----------------------------------------------------------------
    // Field-attributed manifest diff - q195 with the answer to "WHICH
    // column drifted": per-field XOR checksums ride beside the row
    // checksum (one extra md5 per field per row, same single scan +
    // keyed aggregation), and checksum_mismatch partitions name the
    // drifted field list. Against the same perturbed replica the
    // value-shift day attributes to exactly "v"; attribution is NULL
    // where it cannot mean anything (missing / count_mismatch) and ''
    // on clean matches. Same one deliberate manifest-sized full-outer
    // SMJ as q195.
    QueryDef(
      "q196_manifest_field_diff",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val day = col("ts").cast("date")
        val perturbed = ev
          .filter(day =!= lit("2024-01-09").cast("date") &&
            !(day === lit("2024-01-22").cast("date") &&
              pmod(col("event_id"), lit(3L)) === 0))
          .withColumn("value",
            when(day === lit("2024-01-17").cast("date"),
              col("value") + 10.0).otherwise(col("value")))
        def manifest(df: org.apache.spark.sql.DataFrame) =
          graft.operators.Validators.partitionChecksumFields(
            df, col("ts").cast("date"),
            Seq(
              ("id", col("event_id")),
              ("ts", unix_micros(col("ts"))),
              ("u", col("user_id")),
              ("t", col("event_type")),
              ("v", (col("value").cast(org.apache.spark.sql.types
                .DecimalType(18, 6)) * lit(1000000)).cast("long")),
              ("p", col("props"))))
        graft.operators.Validators.manifestDiffFields(manifest(ev),
          manifest(perturbed), Seq("id", "ts", "u", "t", "v", "p"))
      },
      Some("""WITH ev AS (SELECT event_id, ts, user_id, event_type, value, props,
             |    CAST(CAST(ts AS DATE) AS VARCHAR) AS part FROM events),
             |evb AS (SELECT event_id, ts, user_id, event_type,
             |    CASE WHEN CAST(ts AS DATE) = DATE '2024-01-17' THEN value + 10.0 ELSE value END AS value,
             |    props, part FROM ev
             |  WHERE CAST(ts AS DATE) != DATE '2024-01-09'
             |    AND NOT (CAST(ts AS DATE) = DATE '2024-01-22' AND event_id % 3 = 0)),
             |ea AS (SELECT part,
             |    'id=' || COALESCE(replace(replace(replace(CAST(event_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_id,
             |    'ts=' || COALESCE(replace(replace(replace(CAST(epoch_us(ts) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_ts,
             |    'u=' || COALESCE(replace(replace(replace(CAST(user_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_u,
             |    't=' || COALESCE(replace(replace(replace(event_type, '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_t,
             |    'v=' || COALESCE(replace(replace(replace(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_v,
             |    'p=' || COALESCE(replace(replace(replace(props, '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_p
             |  FROM ev),
             |eb AS (SELECT part,
             |    'id=' || COALESCE(replace(replace(replace(CAST(event_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_id,
             |    'ts=' || COALESCE(replace(replace(replace(CAST(epoch_us(ts) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_ts,
             |    'u=' || COALESCE(replace(replace(replace(CAST(user_id AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_u,
             |    't=' || COALESCE(replace(replace(replace(event_type, '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_t,
             |    'v=' || COALESCE(replace(replace(replace(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR), '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_v,
             |    'p=' || COALESCE(replace(replace(replace(props, '\', '\\'), '|', '\|'), '=', '\='), '\N') AS c_p
             |  FROM evb),
             |ha AS (SELECT part, CAST(('0x' || substr(md5(c_id || '|' || c_ts || '|' || c_u || '|' || c_t || '|' || c_v || '|' || c_p), 1, 15)) AS BIGINT) AS h,
             |    CAST(('0x' || substr(md5(c_id), 1, 15)) AS BIGINT) AS h_id,
             |    CAST(('0x' || substr(md5(c_ts), 1, 15)) AS BIGINT) AS h_ts,
             |    CAST(('0x' || substr(md5(c_u), 1, 15)) AS BIGINT) AS h_u,
             |    CAST(('0x' || substr(md5(c_t), 1, 15)) AS BIGINT) AS h_t,
             |    CAST(('0x' || substr(md5(c_v), 1, 15)) AS BIGINT) AS h_v,
             |    CAST(('0x' || substr(md5(c_p), 1, 15)) AS BIGINT) AS h_p
             |  FROM ea),
             |hb AS (SELECT part, CAST(('0x' || substr(md5(c_id || '|' || c_ts || '|' || c_u || '|' || c_t || '|' || c_v || '|' || c_p), 1, 15)) AS BIGINT) AS h,
             |    CAST(('0x' || substr(md5(c_id), 1, 15)) AS BIGINT) AS h_id,
             |    CAST(('0x' || substr(md5(c_ts), 1, 15)) AS BIGINT) AS h_ts,
             |    CAST(('0x' || substr(md5(c_u), 1, 15)) AS BIGINT) AS h_u,
             |    CAST(('0x' || substr(md5(c_t), 1, 15)) AS BIGINT) AS h_t,
             |    CAST(('0x' || substr(md5(c_v), 1, 15)) AS BIGINT) AS h_v,
             |    CAST(('0x' || substr(md5(c_p), 1, 15)) AS BIGINT) AS h_p
             |  FROM eb),
             |m1 AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS xc,
             |    CAST(bit_xor(h_id) AS BIGINT) AS x_id,
             |    CAST(bit_xor(h_ts) AS BIGINT) AS x_ts,
             |    CAST(bit_xor(h_u) AS BIGINT) AS x_u,
             |    CAST(bit_xor(h_t) AS BIGINT) AS x_t,
             |    CAST(bit_xor(h_v) AS BIGINT) AS x_v,
             |    CAST(bit_xor(h_p) AS BIGINT) AS x_p
             |  FROM ha GROUP BY part),
             |m2 AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS xc,
             |    CAST(bit_xor(h_id) AS BIGINT) AS x_id,
             |    CAST(bit_xor(h_ts) AS BIGINT) AS x_ts,
             |    CAST(bit_xor(h_u) AS BIGINT) AS x_u,
             |    CAST(bit_xor(h_t) AS BIGINT) AS x_t,
             |    CAST(bit_xor(h_v) AS BIGINT) AS x_v,
             |    CAST(bit_xor(h_p) AS BIGINT) AS x_p
             |  FROM hb GROUP BY part)
             |SELECT COALESCE(m1.part, m2.part) AS part, m1.n_rows AS n_rows_a, m2.n_rows AS n_rows_b,
             |  CASE WHEN m1.part IS NULL THEN 'missing_left'
             |    WHEN m2.part IS NULL THEN 'missing_right'
             |    WHEN m1.n_rows != m2.n_rows THEN 'count_mismatch'
             |    WHEN m1.xc != m2.xc THEN 'checksum_mismatch'
             |    ELSE 'match' END AS status,
             |  CASE WHEN m1.part IS NULL OR m2.part IS NULL OR m1.n_rows != m2.n_rows THEN NULL
             |    ELSE concat_ws(',',
             |      CASE WHEN m1.x_id != m2.x_id THEN 'id' END,
             |      CASE WHEN m1.x_ts != m2.x_ts THEN 'ts' END,
             |      CASE WHEN m1.x_u != m2.x_u THEN 'u' END,
             |      CASE WHEN m1.x_t != m2.x_t THEN 't' END,
             |      CASE WHEN m1.x_v != m2.x_v THEN 'v' END,
             |      CASE WHEN m1.x_p != m2.x_p THEN 'p' END) END AS drifted_fields
             |FROM m1 FULL OUTER JOIN m2 ON m1.part = m2.part""".stripMargin),
    ),
  )
}
