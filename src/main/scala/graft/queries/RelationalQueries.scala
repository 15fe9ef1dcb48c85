package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.operators.{Aggregations, Flatten, Relational}

/** Core relational capability queries (SURVEY §2.2–§2.5) over the synthetic
  * TPC-H-ish tables. Each maps a reference operator family onto the
  * idiomatic Spark primitive and carries a DuckDB oracle.
  */
object RelationalQueries {

  /** Exact decimal sum of a double column, surfaced as double — deterministic
    * across engines and partition orderings (see QueryDef scaladoc).
    */
  private def dsum(c: String, p: Int = 18, s: Int = 2) =
    sum(col(c).cast(DecimalType(p, s))).cast(DoubleType)

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    // A1/A7-style grouped aggregation (pricing summary). The reference's
    // dormant data mart (create_future_platforms_schemas.sql:173-202) is a
    // GROUP BY with SUM/AVG/COUNT — this is its TPC-H-shaped analogue.
    // Partial (map-side) aggregation + one shuffle on the 6-value group key;
    // scales linearly in input at 100 TB.
    QueryDef(
      "q01_pricing_summary",
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        li.filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum("l_quantity").as("sum_qty"),
            dsum("l_extendedprice").as("sum_base_price"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
              .cast(DoubleType).as("sum_disc_price"),
            (sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1)))
              .as("avg_qty"),
            count(lit(1)).as("count_order"),
            countDistinct(col("l_orderkey")).as("count_orders_distinct"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |COUNT(*) AS count_order,
             |COUNT(DISTINCT l_orderkey) AS count_orders_distinct
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // A1 load statistics: COUNT(*), COUNT(DISTINCT pk), MIN/MAX(ts)
    // (tiktok_shop_staging_loader.py:155-203). One whole-table agg, no group key:
    // partial aggregation makes this a single reduce of 32 partials.
    QueryDef(
      "q02_load_stats",
      (spark, dir) =>
        Aggregations.loadStats(Tables.lineitem(spark, dir), "l_orderkey", "l_shipdate")
          .toDF("total_records", "unique_orders", "earliest_ship", "latest_ship"),
      Some("""SELECT COUNT(*) AS total_records, COUNT(DISTINCT l_orderkey) AS unique_orders,
             |MIN(l_shipdate) AS earliest_ship, MAX(l_shipdate) AS latest_ship FROM lineitem""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // T1 order flatten: nest lineitems under their order (collect_list) and
    // explode_outer back to line grain — the reference's one-row-per-
    // (order,line_item) semantics incl. the zero-item null row
    // (tiktok_shop_transformer.py:22-73,152-167). sort_array makes the
    // nested array deterministic. Equivalent relational form: LEFT JOIN.
    QueryDef(
      "q03_order_flatten",
      (spark, dir) => {
        val nested = Tables.orders(spark, dir).join(
          Tables.lineitem(spark, dir).groupBy(col("l_orderkey")).agg(
            sort_array(collect_list(struct(
              col("l_linenumber"), col("l_partkey"), col("l_quantity")))).as("line_items")),
          col("o_orderkey") === col("l_orderkey"), "left")
        Flatten.flattenOuter(nested, "line_items", "item",
            Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
          .select(
            col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("item.l_linenumber").as("item_linenumber"),
            col("item.l_partkey").as("item_partkey"),
            col("item.l_quantity").as("item_quantity"))
          .orderBy(col("o_orderkey"), col("item_linenumber"))
      },
      Some("""SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
             |l.l_linenumber AS item_linenumber, l.l_partkey AS item_partkey, l.l_quantity AS item_quantity
             |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |ORDER BY o_orderkey, item_linenumber""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // T11 MISA prefix-flatten: order_<col> / item_<col> renames + derived
    // has_multiple_items / total_items_in_order with the null-array→0 rule
    // (misa_crm_transformer.py:112-237, 151-152, 172-173).
    QueryDef(
      "q04_prefix_flatten",
      (spark, dir) => {
        val nested = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderstatus"))
          .join(
            Tables.lineitem(spark, dir).groupBy(col("l_orderkey")).agg(
              sort_array(collect_list(struct(
                col("l_linenumber"), col("l_partkey")))).as("mappings")),
            col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"), col("o_orderstatus"), col("mappings"))
        Flatten.prefixFlatten(nested, "mappings")
          .withColumn("total_items_in_order", col("total_items_in_order").cast(LongType))
          .orderBy(col("order_o_orderkey"), col("item_l_linenumber"))
      },
      Some("""SELECT o.o_orderkey AS order_o_orderkey, o.o_orderstatus AS order_o_orderstatus,
             |l.l_linenumber AS item_l_linenumber, l.l_partkey AS item_l_partkey,
             |(COALESCE(c.n, 0) > 1) AS has_multiple_items,
             |COALESCE(c.n, 0) AS total_items_in_order
             |FROM orders o
             |LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey) c
             |  ON o.o_orderkey = c.l_orderkey
             |ORDER BY order_o_orderkey, item_l_linenumber""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Set operations: INTERSECT/EXCEPT as segment algebra — high-balance
    // customers split into has-orders vs dormant. Spark plans both as
    // aggregate/join (no sort-based set op); one shuffle each on the key.
    QueryDef(
      "q48_set_ops",
      (spark, dir) => {
        val rich = Tables.customer(spark, dir)
          .filter(col("c_acctbal") > 5000.0).select(col("c_custkey"))
        val withOrders = Tables.orders(spark, dir)
          .select(col("o_custkey").as("c_custkey")).distinct()
        rich.intersect(withOrders).withColumn("segment", lit("active_rich"))
          .unionByName(
            rich.except(withOrders).withColumn("segment", lit("dormant_rich")))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, 'active_rich' AS segment FROM (
             |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
             |  INTERSECT SELECT o_custkey FROM orders)
             |UNION ALL
             |SELECT c_custkey, 'dormant_rich' AS segment FROM (
             |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
             |  EXCEPT SELECT o_custkey FROM orders)
             |ORDER BY c_custkey""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Pivot: status columns from rows in one groupBy.pivot pass (single
    // shuffle — Spark plans pivot as one aggregate with conditional
    // expressions, exactly the oracle's COUNT(CASE...) shape). Explicit
    // value list: no extra distinct-values job, stable column order.
    QueryDef(
      "q49_pivot",
      (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("O", "F", "P"))
          .agg(count(lit(1)))
          .select(col("o_orderpriority"),
            coalesce(col("O"), lit(0L)).as("n_open"),
            coalesce(col("F"), lit(0L)).as("n_filled"),
            coalesce(col("P"), lit(0L)).as("n_pending"))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
             |COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_filled,
             |COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Unpivot/melt — q49's inverse: the wide per-type metrics frame
    // relayed into (event_type, metric, value) long form via Spark's
    // native unpivot (a Generate/Expand, no shuffle beyond the source
    // agg). Metrics are cast to a common double before melting, the mean
    // through the DECIMAL discipline; the oracle replays as UNION ALL,
    // the portable statement of the same reshape.
    QueryDef(
      "q116_unpivot",
      (spark, dir) => {
        val wide = Tables.events(spark, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).cast(DoubleType).as("n_events"),
            countDistinct(col("user_id")).cast(DoubleType).as("n_users"),
            (graft.operators.Aggregations.dsum(col("value"), 18, 6) /
              count(col("value"))).as("mean_value"))
        wide.unpivot(
            Array(col("event_type")),
            Array(col("n_events"), col("n_users"), col("mean_value")),
            "metric", "value")
          .select(col("event_type"), col("metric"), round(col("value"), 6).as("value"))
          .orderBy(col("event_type"), col("metric"))
      },
      Some("""WITH wide AS (SELECT event_type,
             |    CAST(COUNT(*) AS DOUBLE) AS n_events,
             |    CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users,
             |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS mean_value
             |  FROM events GROUP BY event_type)
             |SELECT event_type, metric, ROUND(value, 6) AS value FROM (
             |  SELECT event_type, 'n_events' AS metric, n_events AS value FROM wide
             |  UNION ALL SELECT event_type, 'n_users', n_users FROM wide
             |  UNION ALL SELECT event_type, 'mean_value', mean_value FROM wide)
             |ORDER BY event_type, metric""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // CDC snapshot diff: inserted/deleted/updated/unchanged between two
    // snapshots (synthesized deterministically from customer: %7 keys
    // absent from old, %11 keys absent from new, %5 balances doubled).
    // Null-safe struct equality in Spark ≡ IS NOT DISTINCT FROM in SQL.
    QueryDef(
      "q59_snapshot_diff",
      (spark, dir) => {
        val c = Tables.customer(spark, dir)
        val oldSnap = c.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
        val newSnap = c.filter(pmod(col("c_custkey"), lit(11)) =!= 0)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(5)) === 0, col("c_acctbal") * 2)
              .otherwise(col("c_acctbal")))
        Relational.snapshotDiff(oldSnap, newSnap, Seq("c_custkey"))
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n_keys"))
          .orderBy(col("change_type"))
      },
      Some("""WITH o AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0),
             |n AS (SELECT c_custkey, c_name, c_nationkey,
             |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal,
             |    c_mktsegment
             |  FROM customer WHERE c_custkey % 11 <> 0),
             |j AS (SELECT
             |  CASE WHEN o.c_custkey IS NULL THEN 'inserted'
             |       WHEN n.c_custkey IS NULL THEN 'deleted'
             |       WHEN o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
             |        AND o.c_name IS NOT DISTINCT FROM n.c_name
             |        AND o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey
             |        AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment THEN 'unchanged'
             |       ELSE 'updated' END AS change_type
             |  FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey)
             |SELECT change_type, COUNT(*) AS n_keys FROM j
             |GROUP BY change_type ORDER BY change_type""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Fixed-width histogram: bin key from integer floor arithmetic
    // (identical doubles both engines), per-bin count + decimal-routed
    // sum. The binning that backs q51's banded join, as a direct query.
    QueryDef(
      "q60_histogram",
      (spark, dir) =>
        Tables.events(spark, dir)
          .select(floor(col("value") / 50).cast("long").as("bin"),
            col("value"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            dsum("value", 18, 6).as("sum_value"))
          .orderBy(col("bin")),
      Some("""SELECT CAST(floor(value / 50) AS BIGINT) AS bin, COUNT(*) AS n,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY bin ORDER BY bin""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Changelog compaction (CDC replay): the events log collapses to
    // current state — last event per user_id by (ts, event_id), keys
    // whose last event is a tombstone ('error') disappear. The read-side
    // complement of the MERGE/dedup write modes: one key shuffle via
    // row_number, no second pass against a max-ts aggregate.
    QueryDef(
      "q78_changelog_compact",
      (spark, dir) =>
        graft.operators.Relational.compactChangelog(
            Tables.events(spark, dir),
            keys = Seq("user_id"),
            ordering = Seq(col("ts"), col("event_id")),
            isTombstone = col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
          .orderBy(col("user_id")),
      Some("""WITH r AS (SELECT user_id, ts, event_type, value,
             |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT user_id, ts, event_type, value FROM r
             |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // SCD Type 2 dimension build: each user's event_type stream folds
    // into versioned "segment" rows with [valid_from, valid_to) ranges —
    // consecutive restatements of the same type collapse, the open
    // version carries valid_to NULL. The history-keeping complement of
    // q12's latest-wins MERGE; both window passes share one user_id
    // exchange+sort.
    QueryDef(
      "q106_scd2_dimension",
      (spark, dir) =>
        graft.operators.Relational.scd2(
            Tables.events(spark, dir),
            key = "user_id", attrs = Seq("event_type"),
            ordering = Seq(col("ts"), col("event_id")))
          .orderBy(col("user_id"), col("version")),
      Some("""WITH v AS (SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |ch AS (SELECT user_id, ts, event_id, event_type FROM v
             |  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type)
             |SELECT user_id, event_type,
             |  CAST(ROW_NUMBER() OVER w AS INT) AS version,
             |  ts AS valid_from,
             |  lead(ts) OVER w AS valid_to,
             |  lead(ts) OVER w IS NULL AS is_current
             |FROM ch
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, version""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Incremental SCD2 maintenance: build the dimension from the first
    // half of the month, fold the second half in with scd2Apply — and the
    // ORACLE IS q106's full-rebuild SQL: the incremental path must
    // reproduce the full history bit-for-bit (boundary restatements
    // collapse across the cut, versions continue from the seed, untouched
    // keys pass through). The q100 incremental-mart discipline applied to
    // versioned dimensions; work is O(batch), never O(dimension).
    QueryDef(
      "q110_scd2_incremental",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        // The dimension is consumed three times by scd2Apply (seed /
        // closed / untouched branches); materialize it once — in real use
        // it IS a stored table, so the checkpoint mirrors deployment
        // rather than papering over a plan flaw.
        val dim = graft.operators.Relational.scd2(
          ev.filter(col("ts") < cut), "user_id", Seq("event_type"),
          Seq(col("ts"), col("event_id"))).localCheckpoint(true)
        graft.operators.Relational.scd2Apply(
            dim, ev.filter(col("ts") >= cut), "user_id", Seq("event_type"),
            Seq("ts", "event_id"))
          .orderBy(col("user_id"), col("version"))
      },
      Some("""WITH v AS (SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |ch AS (SELECT user_id, ts, event_id, event_type FROM v
             |  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type)
             |SELECT user_id, event_type,
             |  CAST(ROW_NUMBER() OVER w AS INT) AS version,
             |  ts AS valid_from,
             |  lead(ts) OVER w AS valid_to,
             |  lead(ts) OVER w IS NULL AS is_current
             |FROM ch
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, version""".stripMargin),
    ),
  )
}
