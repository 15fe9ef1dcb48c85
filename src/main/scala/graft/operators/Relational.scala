package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join-shaped operators: the reference's upsert/dedup/retention load modes
  * re-expressed as pure DataFrame transforms (the pipelines commit their
  * results through graft.sources.ManifestCommit).
  *
  * Scale notes baked into each operator's contract:
  *  - dedupAppend / mergeUpsert shuffle both sides on the key columns — at
  *    100 TB the target side must be key-partitioned (bucketed) storage so
  *    only the incoming batch shuffles; the transforms themselves are
  *    partitioning-agnostic and AQE handles skewed keys.
  *  - retention/lookback are pure filters: they push down to the scan
  *    (PushedFilters on parquet/Delta) and prune date partitions.
  */
object Relational {

  /** L4 dedup-append (tiktok_shop_staging_loader.py:128-153): the reference
    * "relies on the PK to reject dupes"; the honest distributed realization
    * is: drop in-batch duplicates, then anti-join against existing keys.
    */
  def dedupAppend(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.dropDuplicates(keys)
      .join(existing.select(keys.map(col): _*).dropDuplicates(keys), keys, "left_anti")

  /** L5 MERGE upsert (run_historical_backfill.py:86-183): WHEN MATCHED take
    * the source row (reference updates every non-key column +
    * etl_updated_at), WHEN NOT MATCHED insert it; target rows with no match
    * survive unchanged. Realized as a full-outer join + per-column coalesce
    * (source wins) — the Delta-less equivalent of MERGE INTO. The reference
    * executes this row-by-row over pyodbc; here it is one set-based job.
    * Target and source must carry the SAME column set, in any order (the
    * result takes the source's): a target-only column would otherwise be
    * dropped from the rewritten table, so drift fails loudly instead.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val (tc, sc) = (target.columns.toSet, source.columns.toSet)
    require(tc == sc, "mergeUpsert: target/source schema drift — " +
      s"target-only=${(tc -- sc).toSeq.sorted.mkString(",")} " +
      s"source-only=${(sc -- tc).toSeq.sorted.mkString(",")}")
    val t = target.alias("t")
    val s = source.alias("s")
    val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    // Row-presence test, NOT per-column coalesce: WHEN MATCHED takes the
    // whole source row, so a NULL in a matched source column must
    // overwrite the target value (the reference MERGE updates every
    // non-key column, run_historical_backfill.py:152-183). Per-column
    // coalesce would let stale target values survive a cleared field.
    val sourcePresent = keys.map(k => col(s"s.$k").isNotNull).reduce(_ && _)
    val merged = source.columns.map { c =>
      if (keys.contains(c)) coalesce(col(s"s.$c"), col(s"t.$c")).as(c)
      else when(sourcePresent, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
    }
    t.join(s, cond, "full_outer").select(merged.toIndexedSeq: _*)
  }

  /** L7 retention delete (misa_crm_loader.py:384-427): DELETE WHERE ts <
    * cutoff ≙ keep-filter rewrite. On partitioned storage this prunes whole
    * date partitions before reading a byte.
    */
  def retain(df: DataFrame, tsCol: String, cutoff: Column): DataFrame =
    df.filter(col(tsCol) >= cutoff)

  /** S7 incremental lookback filter with the reference's FAIL-OPEN late-data
    * policy: rows with missing/unparseable modified_date are KEPT
    * (misa_crm_extractor.py:267-282) so they are never silently dropped.
    */
  def lookbackFilter(df: DataFrame, tsCol: String, cutoff: Column): DataFrame =
    df.filter(col(tsCol) >= cutoff || col(tsCol).isNull)

  /** CDC-style snapshot diff: classify every key as inserted / deleted /
    * updated / unchanged between two snapshots of the same table. One
    * full-outer join on the key (both sides shuffle — at scale, bucket
    * both snapshots on the key so the join is co-located); "updated"
    * compares the non-key columns via a null-safe struct equality, so
    * NULL→value and value→NULL transitions count as changes.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    // Names AND types: a type migration (INT -> STRING, DOUBLE -> DECIMAL)
    // is schema drift too — struct comparison would otherwise coerce or
    // fail opaquely at join resolution.
    def shape(df: DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    require(shape(oldSnap) == shape(newSnap),
      s"snapshot schema drift: old=${shape(oldSnap).mkString(",")} " +
        s"new=${shape(newSnap).mkString(",")}")
    val valueCols = oldSnap.columns.filterNot(keys.contains).sorted.toSeq
    def packed(df: DataFrame, alias: String) =
      df.select(keys.map(col) :+
        struct(valueCols.map(col): _*).as(alias): _*)
    packed(oldSnap, "__old")
      .join(packed(newSnap, "__new"), keys.toSeq, "full_outer")
      .withColumn("change_type",
        when(col("__old").isNull, "inserted")
          .when(col("__new").isNull, "deleted")
          .when(col("__old") <=> col("__new"), "unchanged")
          .otherwise("updated"))
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** Bloom-filter semi-join pre-filter: the runtime-filter pattern, as an
    * explicit operator. Build a Bloom filter over the build side's keys
    * (one aggregate → a kilobytes-sized binary sketch), inline the sketch
    * into the probe plan, and stamp each probe row with `bloom_hit`.
    * At 100 TB this prunes the probe scan before any shuffle: rows with
    * `bloom_hit = false` are DEFINITELY not in the build side (no false
    * negatives) and can skip the exact join entirely; the false-positive
    * fraction (tunable via `numBits`) pays only the exact-join cost it
    * failed to prune. Keys are hashed to 64-bit with xxhash64 — the
    * sketch never sees raw strings.
    *
    * Implementation note: `BloomFilterAggregate`/`BloomFilterMightContain`
    * are Catalyst's internal runtime-filter expressions (not in the SQL
    * registry), reached through the graftbridge. might_contain requires a
    * CONSTANT sketch, so the aggregate is materialized on the driver —
    * kilobytes, the explicit form of the scalar-subquery injection
    * Spark's own InjectRuntimeFilter performs.
    */
  def bloomPreFilter(probe: DataFrame, build: DataFrame, keyCol: String,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    require(expectedItems > 0 && numBits > 0, "bloom sizing must be positive")
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val bfAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col(keyCol))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bfBytes = build.agg(bfAgg.as("__bf")).head().getAs[Array[Byte]](0)
    val hit =
      if (bfBytes == null) lit(false) // empty build side: nothing can match
      else ColumnBridge.column(BloomFilterMightContain(
        Literal(bfBytes, BinaryType),
        ColumnBridge.expression(xxhash64(col(keyCol)))))
    probe.withColumn("bloom_hit", hit)
  }

  /** Changelog compaction: reduce an append-only CDC event log to the
    * current state — for each key keep only the LAST event in `ordering`,
    * then drop keys whose last event is a tombstone. This is the read
    * side of the L4/L5 write modes: a log of upserts+deletes replayed
    * into a snapshot (Kafka compacted-topic / Delta CDF semantics).
    *
    * One shuffle, on the key, via row_number — no self-join against a
    * max-ts aggregate (which would shuffle the log twice). `ordering`
    * must be a total order per key (e.g. ts + a unique event id as the
    * tie-break) or "last" is not well-defined.
    */
  def compactChangelog(log: DataFrame, keys: Seq[String],
      ordering: Seq[Column], isTombstone: Column): DataFrame = {
    require(keys.nonEmpty && ordering.nonEmpty,
      "compactChangelog needs key and ordering columns")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(ordering.map(_.desc): _*)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      // NULL-safe: a key whose winning event evaluates the tombstone
      // predicate to NULL (e.g. a null op column) SURVIVES — `!NULL` is
      // NULL, which a bare filter would silently drop, vanishing the key
      // as if it had been tombstoned.
      .filter(!coalesce(isTombstone, lit(false)))
  }

  /** SCD Type 2 dimension build: fold a keyed change log into versioned
    * dimension rows with validity ranges — the warehouse-standard history
    * layer one step past the reference's MERGE upsert (which keeps only
    * the latest row per key, `run_historical_backfill.py:86-183`; SCD2
    * keeps every distinct state with [valid_from, valid_to)).
    *
    * Consecutive rows whose tracked `attrs` are unchanged COLLAPSE into
    * one version (the change log may restate the same state arbitrarily
    * often); `ordering` must be a total order per key (ts + unique
    * tie-break) or version boundaries are not well-defined. Comparison is
    * null-safe per attribute (`<=>` on the attr struct), so a null→value
    * transition opens a new version rather than vanishing.
    *
    * Shape: one shuffle on `key` shared by both window passes — the
    * change-detection lag and the version-numbering/lead run over the
    * same (key, ordering) sort, and the filter between them preserves
    * sort and partitioning, so Catalyst plans a single Exchange+Sort.
    * Output is change-rows-sized, never log-sized.
    *
    * Output: key, attrs..., version (1-based per key), valid_from (first
    * ordering column's value at the change), valid_to (next version's
    * valid_from, null for the open version), is_current.
    */
  def scd2(log: DataFrame, key: String, attrs: Seq[String],
      ordering: Seq[Column]): DataFrame = {
    require(attrs.nonEmpty && ordering.nonEmpty, "scd2 needs attrs and ordering")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(ordering: _*)
    val attrStruct = struct(attrs.map(col): _*)
    val validFrom = ordering.head
    log
      .withColumn("__attrs", attrStruct)
      .withColumn("__prev", lag(col("__attrs"), 1).over(w))
      .filter(!(col("__attrs") <=> col("__prev")))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from", validFrom)
      .withColumn("valid_to", lead(validFrom, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((col(key) +: attrs.map(col)) ++ Seq(col("version"),
        col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  /** Incremental SCD2 maintenance: fold a NEW batch of change events into
    * an existing [[scd2]] dimension without rebuilding history — the
    * incremental-mart discipline (q100) applied to versioned dimensions.
    * Output is bit-identical to `scd2(full history)`: that equivalence IS
    * the correctness gate (see q110, whose oracle is q106's full-rebuild
    * SQL).
    *
    * Contract: batch events are strictly AFTER the open version's
    * valid_from for their key (the standard CDC watermark contract;
    * `ordering` as in [[scd2]], with `ordering.head` the event time).
    * A batch that restates the open version's attrs collapses into it —
    * boundary restatements must not open spurious versions.
    *
    * Shape — O(batch), never O(dimension): only keys PRESENT in the batch
    * are re-derived (their open version becomes the seed row of a
    * batch-sized [[scd2]]-style window pass, version numbers continuing
    * from the seed's); closed versions and untouched keys pass through
    * with no shuffle beyond the key semi-join. At 100 TB the dimension
    * side should be key-bucketed storage so the semi-join and the
    * pass-through union are scan+filter, not shuffles.
    *
    * `ordering` here is column NAMES (head = the event-time column that
    * becomes valid_from; tail = tie-breaks): seed rows re-enter the
    * window pass carrying typed nulls for the tie columns, which an
    * arbitrary Column expression could not represent.
    */
  def scd2Apply(dim: DataFrame, batch: DataFrame, key: String,
      attrs: Seq[String], ordering: Seq[String]): DataFrame = {
    require(attrs.nonEmpty && ordering.nonEmpty, "scd2Apply needs attrs and ordering")
    val batchKeys = batch.select(col(key)).distinct()
    val touchedOpen = dim.filter(col("is_current"))
      .join(batchKeys, Seq(key), "left_semi")
    // Seed rows re-enter the window pass as version __v0 with __src = 0:
    // at an equal event time the seed sorts first (tie columns are null,
    // nulls-first), and the batch contract (strictly-later events) makes
    // even that tie unreachable.
    val seed = touchedOpen.select(
      (col(key) +: attrs.map(col)) ++ Seq(
        col("valid_from").as(ordering.head), lit(0).as("__src"),
        col("version").as("__v0")) ++
        ordering.tail.map(t =>
          lit(null).cast(batch.schema(t).dataType).as(t)): _*)
    val b = batch.select(
      (col(key) +: attrs.map(col)) ++ Seq(
        col(ordering.head), lit(1).as("__src"),
        lit(null).cast("int").as("__v0")) ++ ordering.tail.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      .orderBy(col(ordering.head) +: col("__src") +: ordering.tail.map(col): _*)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val attrStruct = struct(attrs.map(col): _*)
    val rebuilt = seed.unionByName(b)
      .withColumn("__attrs", attrStruct)
      .withColumn("__prev", lag(col("__attrs"), 1).over(w))
      // Propagate the seed's version base to every row of its key; keys
      // new in the batch have no seed → base 1 (max of all-null is null).
      .withColumn("__base", max(col("__v0")).over(wKey))
      .filter(!(col("__attrs") <=> col("__prev")))
      .withColumn("version",
        coalesce(col("__base"), lit(1)) + row_number().over(w) - lit(1))
      .withColumn("valid_from", col(ordering.head))
      .withColumn("valid_to", lead(col(ordering.head), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((col(key) +: attrs.map(col)) ++ Seq(col("version"),
        col("valid_from"), col("valid_to"), col("is_current")): _*)
    val untouched = dim
      .join(batchKeys, Seq(key), "left_anti")
    val closed = dim.filter(!col("is_current"))
      .join(batchKeys, Seq(key), "left_semi")
    untouched.unionByName(closed).unionByName(rebuilt)
  }

  /** Banded range join: match fact rows against a (small) set of
    * possibly-overlapping [lo, hi) bands WITHOUT a nested-loop join.
    *
    * The naive `facts JOIN bands ON v >= lo AND v < hi` plans as
    * BroadcastNestedLoopJoin — every fact row scans every band. This
    * discretizes the value domain into `width`-sized buckets: each band
    * replicates to the buckets it covers (broadcast side — bands are few),
    * each fact row computes exactly ONE bucket id, and the join becomes a
    * hash equi-join on the bucket, with the exact range predicate kept as
    * the post-join filter for boundary buckets. At 100 TB the fact side is
    * hash-dispatched instead of NLJ-scanned; pick `width` near the median
    * band span so a band covers O(1) buckets.
    *
    * Bucket ids are derived with the same double arithmetic on both sides
    * (floor(x / width)), so boundary values land in a covered bucket by
    * construction; the exact filter then decides membership.
    */
  def bandedRangeJoin(facts: DataFrame, valueCol: String,
      bands: DataFrame, width: Double): DataFrame = {
    require(width > 0, s"bucket width must be positive, got $width")
    val bLo = floor(col("lo") / width).cast("long")
    // [lo, hi): a hi that sits exactly on a bucket boundary does NOT reach
    // into the next bucket.
    val bHi = floor(col("hi") / width).cast("long") -
      when(pmod(col("hi"), lit(width)) === 0.0, 1L).otherwise(0L)
    val expanded = bands
      .filter(col("hi") > col("lo")) // empty bands cover nothing
      .withColumn("bucket", explode(sequence(bLo, greatest(bHi, bLo))))
    facts
      .withColumn("bucket", floor(col(valueCol) / width).cast("long"))
      .join(broadcast(expanded), Seq("bucket"))
      .filter(col(valueCol) >= col("lo") && col(valueCol) < col("hi"))
      .drop("bucket")
  }
}
