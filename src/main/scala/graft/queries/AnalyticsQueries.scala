package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Analytics shapes beyond the reference's surface that a user of a Spark
  * engine expects for free: rollup/grouping-sets aggregation, as-of joins,
  * gap-based sessionization.
  */
object AnalyticsQueries {

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    // ROLLUP: subtotal hierarchy (priority, status) → priority → grand
    // total. Stock Catalyst Expand; one shuffle.
    QueryDef(
      "q40_rollup",
      (spark, dir) =>
        Tables.orders(spark, dir)
          .rollup(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
              .as("total_price"))
          .orderBy(col("o_orderpriority").asc_nulls_first,
            col("o_orderstatus").asc_nulls_first),
      Some("""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
             |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
             |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // GROUPING SETS with grouping_id: arbitrary subtotal combinations in
    // one pass ((priority,status), (priority), (status), ()).
    QueryDef(
      "q45_grouping_sets",
      (spark, dir) => {
        // A scoped view name, so it cannot clash with GraftSession's views.
        Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
        spark.sql(
          """SELECT o_orderpriority, o_orderstatus,
            |CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
            |COUNT(*) AS n_orders
            |FROM orders_v
            |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
            |  (o_orderpriority), (o_orderstatus), ())
            |ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderpriority, o_orderstatus,
             |CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid,
             |COUNT(*) AS n_orders
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
             |  (o_orderpriority), (o_orderstatus), ())
             |ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // AS-OF join: each 'purchase' event matched to the same user's most
    // recent prior-or-equal 'click' event. Composed from existing ops
    // (preference (a) of the custom-operator ladder): union-tag + window
    // last-non-null over user/time ordering — no cross product, one
    // shuffle on user_id. Oracle: DuckDB's native ASOF JOIN.
    QueryDef(
      "q41_asof_join",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("is_p"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("is_p"))
        // clicks sort before purchases at equal ts (is_p ascending), so a
        // same-instant click is "prior-or-equal" — matching ASOF >=.
        val tagged = purchases.unionByName(clicks)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_p"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        tagged
          .withColumn("last_click_ts",
            last(when(col("is_p") === 0, col("ts")), ignoreNulls = true).over(w))
          .filter(col("is_p") === 1)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("purchases"),
            sum(when(col("last_click_ts").isNotNull, 1L).otherwise(0L))
              .as("purchases_with_prior_click"))
          .orderBy(col("user_id"))
      },
      Some("""WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
             |j AS (SELECT p.user_id, p.ts, c.ts AS click_ts
             |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
             |SELECT user_id, COUNT(*) AS purchases,
             |CAST(SUM(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS purchases_with_prior_click
             |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Gap-based sessionization: a >30-minute silence starts a new session.
    // lag + cumulative sum of boundaries — the batch twin of
    // flatMapGroupsWithState sessionization; one shuffle on user_id.
    QueryDef(
      "q42_sessionize",
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
        Tables.events(spark, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          // unix_micros, not unix_timestamp: second-truncation would
          // disagree with the oracle's fractional epoch at gap boundaries.
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_idx", sum(col("new_session")).over(wRun))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("longest_session"),
            sum(col("n_events")).as("total_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH o AS (SELECT user_id, ts, event_id,
             |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
             |b AS (SELECT user_id, ts, event_id,
             |  CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session FROM o),
             |s AS (SELECT user_id,
             |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM b),
             |agg AS (SELECT user_id, session_idx, COUNT(*) AS n_events FROM s GROUP BY user_id, session_idx)
             |SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS longest_session,
             |CAST(SUM(n_events) AS BIGINT) AS total_events
             |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Analytic window-function suite: lead/lag/ntile/percent_rank/
    // cume_dist in one pass over one window spec — one shuffle on the
    // partition key, one sort, all five functions computed together.
    // (o_totalprice, o_orderkey) ordering makes every rank deterministic;
    // percent_rank/cume_dist are identical rational arithmetic in both
    // engines, so no rounding is needed.
    QueryDef(
      "q47_window_suite",
      (spark, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").as("price"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cdist"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice AS price,
             |lag(o_totalprice) OVER w AS prev_price,
             |lead(o_totalprice) OVER w AS next_price,
             |ntile(4) OVER w AS quartile,
             |percent_rank() OVER w AS pct_rank,
             |cume_dist() OVER w AS cdist
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Banded range join: overlapping value bands resolved via bucket
    // discretization + hash equi-join (see Relational.bandedRangeJoin) —
    // the oracle states the semantics as the plain range join.
    QueryDef(
      "q51_range_join",
      (spark, dir) => {
        import spark.implicits._
        val bands = Seq(
          ("low", 0.0, 100.0), ("mid", 50.0, 250.0), ("high", 200.0, 500.0))
          .toDF("label", "lo", "hi")
        graft.operators.Relational
          .bandedRangeJoin(Tables.events(spark, dir), "value", bands, 50.0)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_events"),
            graft.operators.Aggregations.dsum(col("value"), 18, 6).as("sum_value"))
          .orderBy(col("label"))
      },
      Some("""WITH bands(label, lo, hi) AS (VALUES
             |  ('low', 0.0, 100.0), ('mid', 50.0, 250.0), ('high', 200.0, 500.0))
             |SELECT label, COUNT(*) AS n_events,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events JOIN bands ON value >= lo AND value < hi
             |GROUP BY label ORDER BY label""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // RANGE-framed moving aggregate: 7-day rolling revenue over daily
    // totals — a RANGE frame on days-since-epoch covers calendar gaps a
    // ROWS frame would miscount. The windowed sum stays DECIMAL (exact
    // regardless of each engine's frame-accumulation order — DuckDB uses
    // segment trees) and casts to double only at the end. The global
    // window is day-grained (thousands of rows for years of data), so the
    // single-partition sort is deliberate and bounded.
    QueryDef(
      "q64_moving_window",
      (spark, dir) => {
        val daily = Tables.orders(spark, dir)
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("tot"))
        val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
        daily
          .withColumn("rolling_7d",
            round(sum(col("tot")).over(w).cast(DoubleType), 2))
          .select(col("day"), col("n"), col("rolling_7d"))
          .orderBy(col("day"))
      },
      Some("""WITH d AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             |  COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
             |  FROM orders GROUP BY day)
             |SELECT day, n,
             |ROUND(CAST(SUM(tot) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS rolling_7d
             |FROM d ORDER BY day""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Per-group mode (most frequent value) with an EXPLICIT tie-break
    // (count desc, value asc) — engine mode()/max_by tie behavior is
    // unspecified, so both sides rank the counted pairs instead. Two
    // shuffles: the (group, value) count and the per-group rank.
    QueryDef(
      "q65_mode_per_group",
      (spark, dir) => {
        val counts = Tables.events(spark, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("cnt").desc, col("event_type"))
        counts.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"),
            col("cnt").as("mode_count"))
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
             |  FROM events GROUP BY user_id, event_type),
             |r AS (SELECT user_id, event_type, cnt,
             |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rk
             |  FROM c)
             |SELECT user_id, event_type AS mode_type, cnt AS mode_count
             |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // CUBE: every subtotal combination of (returnflag, linestatus) in one
    // pass — completes the rollup (q40) / grouping-sets (q45) subtotal
    // family. Stock Catalyst Expand (rows ×4), one shuffle; at 100 TB the
    // Expand multiplies map-side rows but partial aggregation collapses
    // them before the exchange, so the shuffle stays group-count-sized.
    QueryDef(
      "q66_cube",
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n_items"),
            graft.operators.Aggregations.dsum(col("l_quantity"), 18, 2).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // HLL sketch vs exact distinct: the 100 TB cardinality path. Exact
    // COUNT(DISTINCT) shuffles every distinct (group, value) pair;
    // approx_count_distinct merges fixed-size HyperLogLog sketches
    // (map-side partial → one small exchange) regardless of cardinality.
    // Both run here and the query ASSERTS the sketch lands within 5% of
    // truth (rsd=0.02 → ~2σ margin); the oracle pins exact counts and
    // expects approx_ok=TRUE, so a sketch regression fails the gate.
    QueryDef(
      "q67_approx_distinct",
      (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("exact_uniques"),
            approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
          .select(col("o_orderpriority"), col("exact_uniques"),
            (abs(col("approx") - col("exact_uniques")) <=
              col("exact_uniques") * 0.05).as("approx_ok"))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_uniques,
             |TRUE AS approx_ok
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Conversion funnel: first click per user → first purchase at-or-after
    // it → conversion counts by latency bucket. Two hash aggregations on
    // user_id plus one user_id equi-join — the join key matches both
    // aggs' partitioning, so at scale the exchanges line up and nothing
    // reshuffles twice. No timestamp arithmetic ambiguity: the latency
    // buckets compare raw timestamps with INTERVAL literals.
    QueryDef(
      "q71_funnel",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val firstClick = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
        val firstPurchase = ev.filter(col("event_type") === "purchase")
          .join(firstClick, Seq("user_id"))
          .filter(col("ts") >= col("first_click"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
        firstClick.join(firstPurchase, Seq("user_id"), "left")
          .agg(
            count(lit(1)).as("n_clickers"),
            count(col("first_purchase")).as("n_converted"),
            sum(when(col("first_purchase") <=
              col("first_click") + expr("INTERVAL 1 HOUR"), 1L)
              .otherwise(0L)).cast("long").as("n_within_1h"),
            sum(when(col("first_purchase") <=
              col("first_click") + expr("INTERVAL 24 HOURS"), 1L)
              .otherwise(0L)).cast("long").as("n_within_24h"))
      },
      Some("""WITH fc AS (SELECT user_id, MIN(ts) AS first_click FROM events
             |  WHERE event_type = 'click' GROUP BY user_id),
             |fp AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
             |  FROM events e JOIN fc USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts >= fc.first_click
             |  GROUP BY e.user_id)
             |SELECT COUNT(*) AS n_clickers,
             |  COUNT(fp.first_purchase) AS n_converted,
             |  CAST(SUM(CASE WHEN fp.first_purchase <= fc.first_click + INTERVAL 1 HOUR
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1h,
             |  CAST(SUM(CASE WHEN fp.first_purchase <= fc.first_click + INTERVAL 24 HOURS
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_24h
             |FROM fc LEFT JOIN fp USING (user_id)""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // MERGEABLE sketches — the incremental-cardinality pattern behind
    // per-partition statistics tables: one Datasketches HLL sketch per
    // source (the per-ingest-batch artifact), hll_union_agg merges the
    // binary sketches WITHOUT re-reading the token stream, and the merged
    // estimate is asserted within 5% of the exact corpus vocabulary
    // (lgConfigK=12 → ~1.6% rse). At 100 TB this is the difference
    // between re-scanning the corpus per cardinality question and
    // merging kilobyte sketches; the oracle pins the exact counts and
    // approx_ok=TRUE so a sketch/merge regression fails the gate.
    QueryDef(
      "q74_sketch_merge",
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(col("source"),
            graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
          .select(col("source"), explode(col("toks")).as("term"))
        val perSource = toks.groupBy(col("source"))
          .agg(hll_sketch_agg(col("term"), lit(12)).as("sk"))
        val merged = perSource.agg(count(lit(1)).as("n_sources"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
        val exact = toks.agg(countDistinct(col("term")).as("exact_vocab"))
        merged.crossJoin(exact)
          .select(col("n_sources"), col("exact_vocab"),
            (abs(col("approx") - col("exact_vocab")) <=
              col("exact_vocab") * 0.05).as("approx_ok"))
      },
      Some("""WITH toks AS (SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |  FROM documents)
             |SELECT COUNT(DISTINCT source) AS n_sources,
             |  COUNT(DISTINCT term) AS exact_vocab, TRUE AS approx_ok
             |FROM toks""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Approximate-quantile sketch vs exact percentiles: the quantile twin
    // of q67's HLL gate. Exact percentile() buffers every group value for
    // a full sort; approx_percentile merges bounded Greenwald-Khanna-
    // style summaries map-side — at 100 TB the only viable quantile path.
    // The query asserts the sketch lands within 5% (with a small absolute
    // floor near zero) of truth on two quantiles; the oracle pins the
    // exact values and approx_ok=TRUE, so a sketch regression fails the
    // driver gate.
    QueryDef(
      "q79_quantile_sketch",
      (spark, dir) => {
        // Exact side: integer-interpolated order stats over milli values
        // (micro-unit BIGINT output — the round-8 hash rule); the sketch
        // rides alongside and only feeds the boolean gate, compared at
        // the micro scale (quantization shifts ≤ 0.001, far inside 5%).
        val exact = graft.operators.Stats.orderStatsPermille(
            Tables.events(spark, dir), col("event_type"),
            (col("value").cast(DecimalType(18, 3)) * lit(1000)).cast("long"),
            Seq(500, 900), bandWidth = 50000L)
          .select(col("g").as("event_type"),
            col("p500_x1000").as("p50_micro"), col("p900_x1000").as("p90_micro"))
        val approx = Tables.events(spark, dir)
          .groupBy(col("event_type"))
          .agg(expr("approx_percentile(value, 0.5, 10000)").as("a50"),
            expr("approx_percentile(value, 0.9, 10000)").as("a90"))
        exact.join(broadcast(approx), Seq("event_type"))
          .select(col("event_type"), col("p50_micro"), col("p90_micro"),
            (abs(col("a50") * 1e6 - col("p50_micro")) <=
              greatest(abs(col("p50_micro")) * 0.05, lit(50000.0)) &&
              abs(col("a90") * 1e6 - col("p90_micro")) <=
                greatest(abs(col("p90_micro")) * 0.05, lit(50000.0)))
              .as("approx_ok"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH ${graft.operators.Stats.orderStatsOracleSql(
                 "SELECT event_type AS g, CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v " +
                 "FROM events WHERE value IS NOT NULL", Seq(500, 900))}
             |SELECT g AS event_type, p500_x1000 AS p50_micro, p900_x1000 AS p90_micro,
             |  TRUE AS approx_ok
             |FROM os_q ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // MERGEABLE quantile rollup (the q74 discipline for quantiles): one
    // Datasketches KLL sketch per (event_type, day), merge-aggregated up
    // to per-type quantiles — the 100 TB serving pattern where daily
    // sketches are stored ONCE and any date-range quantile is answered
    // by merging its days, never re-scanning facts (q79's
    // approx_percentile cannot do this: its summary isn't exposed for
    // re-aggregation). k=800 → ~0.5% rank error, far inside the 5%
    // value gate; the oracle pins exact quantiles and merge_ok=TRUE.
    QueryDef(
      "q113_kll_mergeable_quantiles",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val daily = ev
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(expr("kll_sketch_agg_double(value, 800)").as("sk"))
        val merged = daily.groupBy(col("event_type"))
          .agg(expr("kll_merge_agg_double(sk, 800)").as("msk"))
          .select(col("event_type"),
            expr("kll_sketch_get_quantile_double(msk, 0.5)").as("k50"),
            expr("kll_sketch_get_quantile_double(msk, 0.9)").as("k90"))
        // Exact side in micro-unit BIGINTs (round-8 rule — see q79); the
        // merged-sketch quantiles only feed the boolean gate.
        graft.operators.Stats.orderStatsPermille(ev, col("event_type"),
            (col("value").cast(DecimalType(18, 3)) * lit(1000)).cast("long"),
            Seq(500, 900), bandWidth = 50000L)
          .select(col("g").as("event_type"), col("n"),
            col("p500_x1000").as("p50_micro"), col("p900_x1000").as("p90_micro"))
          .join(broadcast(merged), Seq("event_type"))
          .select(col("event_type"), col("n"), col("p50_micro"), col("p90_micro"),
            (abs(col("k50") * 1e6 - col("p50_micro")) <=
              greatest(abs(col("p50_micro")) * 0.05, lit(50000.0)) &&
              abs(col("k90") * 1e6 - col("p90_micro")) <=
                greatest(abs(col("p90_micro")) * 0.05, lit(50000.0)))
              .as("merge_ok"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH ${graft.operators.Stats.orderStatsOracleSql(
                 "SELECT event_type AS g, CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v " +
                 "FROM events WHERE value IS NOT NULL", Seq(500, 900))}
             |SELECT g AS event_type, n, p500_x1000 AS p50_micro,
             |  p900_x1000 AS p90_micro, TRUE AS merge_ok
             |FROM os_q ORDER BY event_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Cohort retention matrix: users grouped by first-seen week, counted
    // in each later week they return — the standard product-analytics
    // retention triangle. Two user_id-keyed aggregations (first-seen +
    // distinct activity weeks) and one join that reuses the same key
    // partitioning; week arithmetic stays exact because both engines
    // truncate weeks to Mondays, making the day difference a multiple
    // of 7.
    QueryDef(
      "q83_cohort_retention",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
        val active = ev.distinct()
        active.join(cohort, Seq("user_id"))
          .withColumn("week_offset",
            floor(datediff(col("wk"), col("cohort_week")) / 7))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH ev AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
             |cohort AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id)
             |SELECT c.cohort_week,
             |  CAST(FLOOR(date_diff('day', c.cohort_week, e.wk) / 7.0) AS BIGINT) AS week_offset,
             |  COUNT(DISTINCT e.user_id) AS n_users
             |FROM ev e JOIN cohort c USING (user_id)
             |GROUP BY c.cohort_week, week_offset
             |ORDER BY c.cohort_week, week_offset""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Sliding-window distinct users (1 h window, 30 min slide): the
    // overlapping-window twin of q19's tumbling agg — Spark's window()
    // assigns each event to its two covering windows, the oracle replays
    // the assignment as the two epoch-aligned 30-min buckets. Exact
    // COUNT DISTINCT is the answer; the sketch rides along q67-style (the
    // 100 TB path for per-window uniques) gated within 5% of exact.
    //
    // The sketch side is the q74 pattern, not a per-window
    // approx_count_distinct: ONE Datasketches HLL per 30-minute tumbling
    // bucket, then each sliding window unions its two covering buckets
    // (a bucket at B serves windows B and B−30 min, so the merge is a
    // two-branch union + re-agg — sketches built once at the finest
    // granularity answer EVERY coarser window, which is exactly how
    // per-window uniques are served at 100 TB). Deterministic: register
    // merges are order-insensitive. Measured 14× faster than the
    // approx_count_distinct rider it replaces: HLL++ at the rsd needed to
    // survive its sparse-to-dense bias correction (0.005 → 2^16 registers)
    // allocated a 52 KB buffer per window per partition — 14.2 s vs 1.0 s
    // at sf0.01, identical gate result (the bucket sketches stay in
    // Datasketches' exact-storage regime at every SF; max_rel = 0).
    QueryDef(
      "q101_sliding_distinct",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val exact = ev
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
          .select(col("w.start").as("window_start"), col("exact_users"))
        val buckets = ev
          .select(window(col("ts"), "30 minutes").as("b"), col("user_id"))
          .groupBy(col("b.start").as("bstart"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        // Explode, not a two-branch union: union would recompute the
        // bucket aggregation once per branch (two scans, two exchanges).
        val approx = buckets
          .select(explode(array(col("bstart"),
            col("bstart") - expr("INTERVAL 30 minutes"))).as("window_start"),
            col("sk"))
          .groupBy(col("window_start"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
        // Both covering buckets exist for every window the slide assigns
        // (window starts ARE {bucket, bucket−30 min}), so inner join is
        // lossless; the windows-sized approx frame broadcasts.
        exact.join(broadcast(approx), Seq("window_start"))
          .select(col("window_start"), col("exact_users"),
            (abs(col("approx") - col("exact_users")) <=
              col("exact_users") * 0.05).as("approx_ok"))
          .orderBy(col("window_start"))
      },
      Some("""WITH w AS (SELECT user_id,
             |    unnest([time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP),
             |            time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP) - INTERVAL '30 minutes']) AS window_start
             |  FROM events)
             |SELECT window_start, COUNT(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
             |FROM w GROUP BY window_start ORDER BY window_start""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Two-sample Kolmogorov–Smirnov distribution-drift gate: D =
    // sup|F_A − F_R| over the extended-price distributions of returned
    // vs accepted line items. The numerator at every pooled value is the
    // EXACT integer |ca·n_b − cb·n_a| (cumulative counts via the
    // two-phase banded prefix sum — never a global single-partition
    // window); d and the α=0.05 Smirnov decision are identical-operand
    // IEEE steps off those integers. Catches shape drift the mean/
    // variance gates (q55, q112) can't see.
    QueryDef(
      "q122_ks_drift",
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        graft.operators.Stats.ksTwoSample(li, col("l_extendedprice"),
          col("l_returnflag"), "A", "R", bandWidth = 1000)
      },
      Some("""WITH s AS (SELECT l_extendedprice AS v, l_returnflag AS f
             |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
             |n AS (SELECT CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |             CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM s),
             |c AS (SELECT v, SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS da,
             |             SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS db
             |  FROM s GROUP BY v),
             |cum AS (SELECT
             |    SUM(da) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             |    SUM(db) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
             |  FROM c),
             |d AS (SELECT MAX(ABS(CAST(ca AS HUGEINT) * n_b
             |                   - CAST(cb AS HUGEINT) * n_a)) AS d_num FROM cum, n)
             |SELECT n_a, n_b, CAST(d_num AS BIGINT) AS d_num,
             |  CAST((d_num * 1000000) // (CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)) AS BIGINT) AS d_ppm,
             |  CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) >
             |    1.3581 * sqrt(CAST(n_a + n_b AS DOUBLE)
             |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS reject_05
             |FROM d, n""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Join-size estimation from Count-Min inner products (Cormode &
    // Muthukrishnan §4.3) — the PLANNER's read: |A ⋈ B| bounded from two
    // fixed-size grids without shuffling either input by the key. Here
    // the returned ('R') and normal ('N') lineitem halves joined on
    // l_partkey — a genuine many-to-many join. The estimate is min over
    // depth rows of the grid inner product; structurally never an
    // undercount. Exact size rides along as the audit baseline (per-key
    // count frames, never a materialized join) — the vocabulary-sized
    // aggregation the sketch exists to avoid at 100 TB.
    QueryDef(
      "q183_cm_join_size",
      (spark, dir) =>
        graft.operators.Frequency.cmJoinSizeAudit(
          Tables.lineitem(spark, dir),
          when(col("l_returnflag") === "R", col("l_partkey")),
          when(col("l_returnflag") === "N", col("l_partkey")),
          depth = 3, width = 1024),
      Some("""WITH a AS (SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem WHERE l_returnflag = 'R'),
             |b AS (SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem WHERE l_returnflag = 'N'),
             |rows_i AS (SELECT unnest(range(3)) AS i),
             |ga AS (SELECT i, CAST(('0x' || substr(md5(i || ':' || key), 1, 15)) AS BIGINT) % 1024 AS w,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM a, rows_i GROUP BY 1, 2),
             |gb AS (SELECT i, CAST(('0x' || substr(md5(i || ':' || key), 1, 15)) AS BIGINT) % 1024 AS w,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM b, rows_i GROUP BY 1, 2),
             |per_row AS (SELECT ga.i, CAST(SUM(ga.c * gb.c) AS BIGINT) AS est
             |  FROM ga JOIN gb ON ga.i = gb.i AND ga.w = gb.w GROUP BY ga.i),
             |cm AS (SELECT CAST(MIN(est) AS BIGINT) AS cm_est FROM per_row),
             |ex AS (SELECT CAST(coalesce(SUM(ca.c * cb.c), 0) AS BIGINT) AS exact_rows
             |  FROM (SELECT key, COUNT(*) AS c FROM a GROUP BY 1) ca
             |  JOIN (SELECT key, COUNT(*) AS c FROM b GROUP BY 1) cb USING (key))
             |SELECT ex.exact_rows, cm.cm_est,
             |  cm.cm_est - ex.exact_rows AS overcount,
             |  CASE WHEN ex.exact_rows > 0 THEN
             |    CAST(((cm.cm_est - ex.exact_rows) * 1000000) // ex.exact_rows AS BIGINT)
             |  END AS overcount_ppm,
             |  cm.cm_est >= ex.exact_rows AS never_undercounts
             |FROM ex, cm""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Reshard-movement audit: growing a keyed store 8 -> 9 shards, the
    // exact fraction of keys that MOVE under mod-hash placement vs a
    // consistent-hash ring (16 md5-positioned vnodes per shard) — the
    // placement decision that determines whether a reshard rewrites
    // ~89% or ~11% of a 100 TB store. Measured on the lineitem PK
    // population: 896666 vs 106166 ppm — Karger's 1/N theory to three
    // digits. Placement is a per-row argmin over a literal ring array:
    // no join, no shuffle before the one-row summary.
    QueryDef(
      "q186_reshard_audit",
      (spark, dir) =>
        graft.operators.Skew.reshardAudit(
          Tables.lineitem(spark, dir),
          concat(col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string")),
          oldShards = 8, newShards = 9, vnodes = 16),
      Some("""WITH keys AS (SELECT CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS key FROM lineitem),
             |kh AS (SELECT key, CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) AS h FROM keys),
             |ring AS (SELECT i.range AS shard,
             |    CAST(('0x' || substr(md5('s' || i.range || ':v' || j.range), 1, 15)) AS BIGINT) AS pt
             |  FROM range(9) i, range(16) j),
             |d AS (SELECT kh.key, ring.shard,
             |    (ring.pt - kh.h + 1152921504606846976) % 1152921504606846976 AS dist,
             |    ring.shard < 8 AS in_old
             |  FROM kh, ring),
             |old_m AS (SELECT key, MIN(dist) AS md FROM d WHERE in_old GROUP BY key),
             |old_a AS (SELECT d.key, MIN(d.shard) AS shard_old
             |  FROM d JOIN old_m ON d.key = old_m.key AND d.dist = old_m.md WHERE d.in_old GROUP BY d.key),
             |new_m AS (SELECT key, MIN(dist) AS md FROM d GROUP BY key),
             |new_a AS (SELECT d.key, MIN(d.shard) AS shard_new
             |  FROM d JOIN new_m ON d.key = new_m.key AND d.dist = new_m.md GROUP BY d.key),
             |j AS (SELECT kh.key, kh.h % 8 AS mod_old, kh.h % 9 AS mod_new, o.shard_old, n.shard_new
             |  FROM kh JOIN old_a o ON kh.key = o.key JOIN new_a n ON kh.key = n.key)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             |  CAST(SUM(CASE WHEN mod_old != mod_new THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
             |  CAST(SUM(CASE WHEN shard_old != shard_new THEN 1 ELSE 0 END) AS BIGINT) AS moved_ring,
             |  CAST((SUM(CASE WHEN mod_old != mod_new THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS moved_mod_ppm,
             |  CAST((SUM(CASE WHEN shard_old != shard_new THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS moved_ring_ppm
             |FROM j""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Placement-balance audit: the other half of q186's tradeoff. The
    // ring moves 8x less data on reshard, but HOW UNBALANCED is it? Per
    // placement strategy (mod, 1-vnode ring, 16-vnode ring) the exact
    // per-shard max/mean load on the same lineitem PK population and the
    // same md5 ring: mod 1.06x (balanced, unmovable), ring_v1 2.78x (a
    // straggler shard ~3x the mean), ring_v16 1.52x — the Dynamo vnode
    // argument measured. Every placement is a per-row projection; one
    // (strategy, shard) aggregation is the only data-sized shuffle.
    QueryDef(
      "q187_ring_balance",
      (spark, dir) =>
        graft.operators.Skew.ringBalance(
          Tables.lineitem(spark, dir),
          concat(col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string")),
          shards = 9, vnodeOptions = Seq(1, 16)),
      Some("""WITH keys AS (SELECT CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS key FROM lineitem),
             |kh AS (SELECT key, CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) AS h FROM keys),
             |kd AS (SELECT DISTINCT key, h FROM kh),
             |ring AS (SELECT v.vn AS vn, i.range AS shard,
             |    CAST(('0x' || substr(md5('s' || i.range || ':v' || j.range), 1, 15)) AS BIGINT) AS pt
             |  FROM (VALUES (1),(16)) v(vn), range(9) i, range(16) j WHERE j.range < v.vn),
             |d AS (SELECT kd.key, r.vn, r.shard,
             |    (r.pt - kd.h + 1152921504606846976) % 1152921504606846976 AS dist
             |  FROM kd, ring r),
             |m AS (SELECT key, vn, MIN(dist) AS md FROM d GROUP BY key, vn),
             |a AS (SELECT d.key, 'ring_v' || d.vn AS strategy, MIN(d.shard) AS shard
             |  FROM d JOIN m ON d.key = m.key AND d.vn = m.vn AND d.dist = m.md GROUP BY d.key, d.vn),
             |allasg AS (
             |  SELECT key, 'mod' AS strategy, CAST(h % 9 AS BIGINT) AS shard FROM kh
             |  UNION ALL SELECT kh.key, a.strategy, a.shard FROM kh JOIN a ON kh.key = a.key),
             |byshard AS (SELECT strategy, shard, COUNT(*) AS cnt FROM allasg GROUP BY strategy, shard)
             |SELECT strategy,
             |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
             |  CAST(9 AS BIGINT) AS n_shards,
             |  CAST(COUNT(*) AS BIGINT) AS shards_used,
             |  CAST(MAX(cnt) AS BIGINT) AS max_rows,
             |  CAST(CASE WHEN COUNT(*) < 9 THEN 0 ELSE MIN(cnt) END AS BIGINT) AS min_rows,
             |  CAST((MAX(cnt) * 9 * 1000000) // SUM(cnt) AS BIGINT) AS max_over_mean_ppm
             |FROM byshard GROUP BY strategy""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Benford first-digit audit on order amounts: organic multiplicative
    // amounts follow P(d)=log10(1+1/d); this synthetic price feed reads
    // ~uniform over digits 1-4 (deviations to ~128k ppm) — exactly the
    // "this amount column is not organic" flag the audit exists to
    // raise. Cents through DECIMAL(18,2), first digit off the INTEGER's
    // string, Benford expectations as ppm literals — no libm at query
    // time; all 9 digits always emitted.
    QueryDef(
      "q192_benford",
      (spark, dir) =>
        graft.operators.Stats.benfordAudit(
          Tables.orders(spark, dir), col("o_totalprice")),
      Some("""WITH src AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             |    FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
             |fd AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM src),
             |obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM fd GROUP BY digit),
             |exp AS (SELECT * FROM (VALUES
             |    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
             |    (6, 66947), (7, 57992), (8, 51153), (9, 45757)) e(digit, benford_ppm)),
             |j AS (SELECT CAST(exp.digit AS BIGINT) AS digit, COALESCE(obs.n, 0) AS n,
             |    CAST(exp.benford_ppm AS BIGINT) AS benford_ppm
             |  FROM exp LEFT JOIN obs ON exp.digit = obs.digit),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows FROM j)
             |SELECT j.digit, j.n, t.n_rows,
             |  CASE WHEN t.n_rows > 0 THEN CAST((j.n * 1000000) // t.n_rows AS BIGINT) END AS obs_ppm,
             |  j.benford_ppm,
             |  CASE WHEN t.n_rows > 0 THEN ABS(CAST((j.n * 1000000) // t.n_rows AS BIGINT) - j.benford_ppm) END AS abs_dev_ppm
             |FROM j, t""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Association rules over (user, day) session baskets: for every
    // co-occurring event-type pair, exact support, both directed
    // confidences and lift (Apriori's k=2 layer + Brin's lift) — the
    // "users who do A in a session also do B" read, from co-occurrence
    // alone. The fixture measures lift 0.83-0.97 (session types mildly
    // anti-correlated — sessions are short), conf 32-40%. Candidate
    // generation is basket-keyed (work = per-basket pair count, never
    // |vocabulary|^2); support table broadcast; lift in DECIMAL(38,0)
    // (supports multiply past BIGINT at 1e9 baskets).
    QueryDef(
      "q194_assoc_rules",
      (spark, dir) =>
        graft.operators.Frequency.associationRules(
          Tables.events(spark, dir),
          concat(col("user_id").cast("string"), lit(":"),
            col("ts").cast("date").cast("string")),
          col("event_type")),
      Some("""WITH b AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS basket, event_type AS item
             |    FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL),
             |n AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM b),
             |s AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS supp FROM b GROUP BY item),
             |p AS (SELECT a.item AS item_a, bb.item AS item_b, CAST(COUNT(*) AS BIGINT) AS supp_ab
             |  FROM b a JOIN b bb ON a.basket = bb.basket AND a.item < bb.item GROUP BY 1, 2)
             |SELECT p.item_a, p.item_b, sa.supp AS supp_a, sb.supp AS supp_b, p.supp_ab, n.n_baskets,
             |  CAST((p.supp_ab * 1000000) // sa.supp AS BIGINT) AS conf_a_to_b_ppm,
             |  CAST((p.supp_ab * 1000000) // sb.supp AS BIGINT) AS conf_b_to_a_ppm,
             |  CAST((CAST(p.supp_ab AS HUGEINT) * n.n_baskets * 1000) // (CAST(sa.supp AS HUGEINT) * sb.supp) AS BIGINT) AS lift_milli
             |FROM p JOIN s sa ON p.item_a = sa.item JOIN s sb ON p.item_b = sb.item, n""".stripMargin),
    ),
  )
}
