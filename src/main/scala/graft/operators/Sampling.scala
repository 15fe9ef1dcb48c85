package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Dataset-splitting and sampling operators for training-data pipelines.
  * All assignment is DETERMINISTIC (multiplicative integer hashing of the
  * id), never `rand()`: re-running a 100 TB split must land every row in
  * the same bucket, and the split must survive retries, re-partitioning
  * and incremental appends.
  */
object Sampling {

  /** Knuth-style multiplicative hash of an integer id onto [0, buckets):
    * pure integer arithmetic, reproducible in any engine. The id is
    * reduced mod P BEFORE the multiply so the product stays under 2^63
    * for any 64-bit id (ANSI overflow-safe).
    */
  def idBucket(id: Column, buckets: Int): Column = {
    val P = 2147483647L
    pmod(pmod(pmod(id, lit(P)) * lit(2654435761L), lit(P)), lit(buckets.toLong))
  }

  /** Deterministic train/validation/test split by id hash. Fractions are
    * percentages of the 100-bucket hash space.
    */
  def trainValTestSplit(df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val b = idBucket(col(idCol), 100)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Class-balanced subsample: deterministically keep up to `perClass` rows
    * per label, ranked by id hash (not by id, which would bias toward
    * early records).
    */
  def balancedSample(df: DataFrame, labelCol: String, idCol: String,
      perClass: Int): DataFrame = {
    val w = Window.partitionBy(col(labelCol))
      .orderBy(idBucket(col(idCol), 1000000), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= perClass)
      .drop("sample_rank")
  }

  /** Mixture-weighted subsample: hit a target data-mixture by source.
    * Each source gets quota = floor(totalRows · weight / Σweights) rows,
    * chosen deterministically by id hash within the source (so re-runs,
    * retries and incremental appends pick the same rows).
    *
    * `weight` must be constant within a source (it is aggregated with
    * max). Scale shape: the per-source weight table and the quota table
    * are |sources|-sized — aggregated small, broadcast back; the only
    * full-data shuffle is the per-source ranking window, partitioned by
    * source (salt the window via [[balancedSample]]-style sub-keys if one
    * source dominates the corpus).
    */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
      weight: Column, totalRows: Long): DataFrame = {
    val srcW = df.groupBy(col(sourceCol)).agg(max(weight).as("wt"))
    val total = srcW.agg(sum(col("wt")).as("tw"))
    val quotas = srcW.crossJoin(broadcast(total))
      .withColumn("quota",
        floor(lit(totalRows.toDouble) * col("wt") / col("tw")))
      .select(col(sourceCol), col("quota"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(idBucket(col(idCol), 1000000), col(idCol))
    df.join(broadcast(quotas), Seq(sourceCol))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= col("quota"))
      .drop("sample_rank")
  }

  /** Seeded pseudo-random draw for `id` on [0, buckets): the [[idBucket]]
    * hash with the seed folded in, so different epochs/draws decorrelate
    * while each remains fully deterministic. Same ANSI-overflow guard:
    * the id is reduced mod P before the multiply ((P-1)·2654435761 + the
    * seed term stays under 2^63 for any seed ≤ ~1e9).
    */
  def seededBucket(id: Column, seed: Int, buckets: Int): Column = {
    require(seed >= 0 && seed <= 1000000000, s"seed must be in [0, 1e9], got $seed")
    val P = 2147483647L
    pmod(pmod(pmod(id, lit(P)) * lit(2654435761L) + lit(seed.toLong) * lit(48271L),
      lit(P)), lit(buckets.toLong))
  }

  /** Deterministic training-epoch shuffle with shard assignment: every row
    * gets a pseudo-random sort key from (id, epoch seed), its shard is
    * `key mod nShards`, and its position is its key-rank WITHIN the shard.
    * Changing the seed reshuffles the corpus; re-running the same seed
    * reproduces the exact order — the property a resumable 100 TB training
    * job needs (no `rand()`, no partition-order dependence).
    *
    * Scale shape: one shuffle, keyed by shard (each shard is one window
    * partition); the within-shard sort is the per-reducer sort Spark does
    * anyway for a window. nShards should be ≥ the write parallelism you
    * want; rows land in shards near-uniformly by the hash.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: Int, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(!Seq("shuffle_key", "shard", "pos").exists(df.columns.contains),
      "epochShuffle adds shuffle_key/shard/pos — rename the input's conflicting columns")
    val keyed = df.withColumn("shuffle_key", seededBucket(col(idCol), seed, 1000000000))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col(idCol))
    keyed.withColumn("pos", row_number().over(w))
  }

  /** Weighted sampling WITHOUT replacement: keep the k rows with the
    * largest priority `weight · S / u`, where u is the row's deterministic
    * pseudo-random draw on [1, S] — integer-quantized priority sampling
    * (Duffield, Lund & Thorup, JACM'07). Heavier rows get stochastically
    * larger priorities, so inclusion probability rises with weight, but
    * any row can win — unlike a plain `ORDER BY weight LIMIT k`, which
    * deterministically censors the light tail.
    *
    * All arithmetic is 64-bit integer (the priority is an integer
    * DIVISION, not a float), so the selection is bit-reproducible across
    * engines and re-runs. `weight` must be a positive integral column;
    * weights above ~9e11 would overflow the `weight · S` product and are
    * rejected at runtime via a guarded expression.
    *
    * Scale shape: top-k by (priority, id) compiles to
    * TakeOrderedAndProject — per-partition heaps + a k-row driver merge,
    * never a global sort shuffle.
    */
  def prioritySample(df: DataFrame, idCol: String, weight: Column, k: Int,
      seed: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val S = 1000000L
    val u = seededBucket(col(idCol), seed, S.toInt) + lit(1L)
    val wOk = when(weight > 0 && weight <= lit(9000000000000L / S), weight.cast("long"))
      .otherwise(raise_error(concat(lit("prioritySample: weight out of (0, 9e6] range: "),
        weight.cast("string"))).cast("long"))
    // `div` (IntegralDivide) keeps the priority exact 64-bit integer math —
    // a double division + floor can misround near-integer quotients (double
    // abs error ~1e-3 at 9e12 exceeds the 1/u fraction granularity).
    df.withColumn("w_scaled", wOk * lit(S)).withColumn("u_draw", u)
      .withColumn("priority", expr("w_scaled div u_draw"))
      .drop("w_scaled", "u_draw")
      .orderBy(col("priority").desc, col(idCol))
      .limit(k)
  }

  /** Repeat-factor OVERSAMPLING — the with-replacement counterpart of
    * [[mixtureSample]]: hit a target mixture even when a source's quota
    * EXCEEDS its document count by emitting each document `copies` times
    * (multilingual/low-resource up-weighting via epoch repeat factors).
    *
    * Per source: quota = (totalRows · w) div Σw (all integer — exact in
    * any engine), then copies = quota div n_docs for every document plus
    * one extra for the quota mod n_docs documents ranked first by id-hash
    * (deterministic: re-runs repeat the same docs). Emits one row per
    * copy with copy_idx ∈ [1, copies]; documents in sources whose quota
    * is 0 disappear, Σ emitted rows = Σ quotas ≤ totalRows.
    *
    * `weight` must be integral and constant within a source (aggregated
    * with max). Scale shape: quota/count tables are |sources|-sized
    * broadcasts; the ranking window is per-source; the explode is the
    * output itself (≤ totalRows rows). The |sources|-sized quota frame is
    * cached through [[graft.core.CacheScope]] — without it the
    * quota-total-count subtree (a full corpus aggregation) is re-planned
    * once per consumer branch.
    */
  def repeatFactorOversample(df: DataFrame, sourceCol: String, idCol: String,
      weight: Column, totalRows: Long): DataFrame = {
    require(totalRows >= 1, s"totalRows must be >= 1, got $totalRows")
    val srcW = df.groupBy(col(sourceCol)).agg(max(weight).cast("long").as("wt"),
      count(lit(1)).as("n_docs"))
    val total = srcW.agg(sum(col("wt")).as("tw"))
    // totalRows·wt must stay under 2^63 (ANSI would throw mid-job on the
    // |sources|-sized frame anyway; this names the fix: rescale weights).
    val wtOk = when(col("wt") <= lit(Long.MaxValue / math.max(totalRows, 1L)), col("wt"))
      .otherwise(raise_error(concat(
        lit(s"repeatFactorOversample: totalRows ($totalRows) * weight overflows int64 "
          + "— rescale weights (quotas only need their ratios): weight="),
        col("wt").cast("string"))).cast("long"))
    val quotas = CacheScope.cached(srcW.crossJoin(broadcast(total))
      .withColumn("tr", lit(totalRows))
      .withColumn("wt", wtOk)
      .withColumn("quota", expr("(tr * wt) div tw"))
      .select(col(sourceCol), col("quota"), col("n_docs")))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(idBucket(col(idCol), 1000000), col(idCol))
    df.join(broadcast(quotas), Seq(sourceCol))
      .withColumn("rk", row_number().over(w))
      .withColumn("copies", expr("quota div n_docs") +
        when(col("rk") <= pmod(col("quota"), col("n_docs")), 1L).otherwise(0L))
      .filter(col("copies") >= 1)
      // sequence(1, 0) would be DESCENDING in Spark, not empty — the
      // copies >= 1 filter above keeps the generator in its valid range.
      .withColumn("copy_idx", explode(sequence(lit(1L), col("copies"))))
      .drop("rk", "quota", "n_docs")
  }

  /** Stratified [[prioritySample]]: the same integer-quantized
    * Duffield–Lund–Thorup draw, but top-`kPerGroup` WITHIN each stratum —
    * weighted sampling without replacement per source/language/domain in
    * one pass. The global variant's TakeOrdered becomes a group-partitioned
    * ranking window: one shuffle on the stratum key, each stratum ranked
    * independently (salt the window if one stratum dominates — the
    * balancedSample caveat applies unchanged).
    */
  def prioritySamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, kPerGroup: Int, seed: Int = 0): DataFrame = {
    require(kPerGroup >= 1, s"kPerGroup must be >= 1, got $kPerGroup")
    val S = 1000000L
    val u = seededBucket(col(idCol), seed, S.toInt) + lit(1L)
    val wOk = when(weight > 0 && weight <= lit(9000000000000L / S), weight.cast("long"))
      .otherwise(raise_error(concat(lit("prioritySamplePerGroup: weight out of (0, 9e6] range: "),
        weight.cast("string"))).cast("long"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("priority").desc, col(idCol))
    df.withColumn("w_scaled", wOk * lit(S)).withColumn("u_draw", u)
      .withColumn("priority", expr("w_scaled div u_draw"))
      .drop("w_scaled", "u_draw")
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= kPerGroup)
      .drop("sample_rank")
  }

  /** Token-budget mixture allocation by exact water-filling: given one
    * row per source with available tokens and a mixture weight, allocate
    * a global token budget proportionally to weight, EXCEPT that no
    * source may exceed its repeat cap (availability × epochsMilli/1000 —
    * the data-constrained-scaling discipline of Muennighoff et al. 2023:
    * past a few epochs, repeated tokens stop buying loss). Freed budget
    * from capped sources redistributes to the rest at a common water
    * level. This is the planning step BEFORE [[mixtureSample]] /
    * [[repeatFactorOversample]] draw rows: those enforce a mix, this
    * derives the mix the budget can actually fund.
    *
    * Exact integer arithmetic end to end, so the allocation itself can
    * sit under a replay oracle: sources sort ascending by the integral
    * cap/weight key (cap·10¹² div weight, source tie-break); under that
    * order the saturated set is a prefix, so each row's "capped" test is
    * ONE cross-multiplied comparison (cap·rw ≤ r·w, DECIMAL(38,0) —
    * never a float water level) against prefix-sum remainders, and every
    * uncapped source allocates r*·w div rw* from the first uncapped
    * row's remainders. All rows ride ONE bounded single-partition window
    * (|sources| rows — the q27 recall-gate posture), one pass, no
    * iteration, no driver state.
    */
  def tokenBudgetWaterfill(sources: DataFrame, sourceCol: String,
      availCol: String, weightCol: String,
      budgetMilli: Long, epochsMilli: Long): DataFrame = {
    require(budgetMilli >= 0, s"budgetMilli must be >= 0, got $budgetMilli")
    require(epochsMilli >= 1, s"epochsMilli must be >= 1, got $epochsMilli")
    val s = sources.select(col(sourceCol).as("source"),
      col(availCol).cast("long").as("avail"),
      col(weightCol).cast("long").as("w"))
    val tot = s.agg(sum(col("avail")).as("ta"), sum(col("w")).as("tw"))
    val base = s.crossJoin(broadcast(tot))
      .withColumn("cap", expr(s"(avail * ${epochsMilli}L) div 1000"))
      .withColumn("b", expr(s"(ta * ${budgetMilli}L) div 1000"))
      .withColumn("key",
        expr("(CAST(cap AS DECIMAL(38,0)) * 1000000000000) div w"))
    val ord = Window.orderBy(col("key"), col("source"))
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val whole = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    base
      .withColumn("r", col("b") - coalesce(sum(col("cap")).over(prev), lit(0L)))
      .withColumn("rw", col("tw") - coalesce(sum(col("w")).over(prev), lit(0L)))
      .withColumn("flag",
        expr("CAST(cap AS DECIMAL(38,0)) * rw <= CAST(r AS DECIMAL(38,0)) * w"))
      // prefix_ok: every source BEFORE this one saturated — the water
      // level is read off the first row breaking the chain, and rows
      // after it (flag values there are against stale remainders) are
      // uncapped by the prefix property.
      .withColumn("prefix_ok",
        coalesce(min(when(col("flag"), 1).otherwise(0)).over(prev), lit(1)) === 1)
      .withColumn("capped", col("flag") && col("prefix_ok"))
      .withColumn("rs",
        max(when(!col("flag") && col("prefix_ok"), col("r"))).over(whole))
      .withColumn("rws",
        max(when(!col("flag") && col("prefix_ok"), col("rw"))).over(whole))
      .withColumn("allocated", when(col("capped"), col("cap")).otherwise(
        expr("CAST((CAST(rs AS DECIMAL(38,0)) * w) div rws AS BIGINT)")))
      .withColumn("share_ppm", when(col("b") > 0,
        expr("CAST((CAST(allocated AS DECIMAL(38,0)) * 1000000) div b AS BIGINT)")))
      .withColumn("epochs_milli_used", when(col("avail") > 0,
        expr("CAST((CAST(allocated AS DECIMAL(38,0)) * 1000) div avail AS BIGINT)")))
      .select(col("source"), col("avail").as("avail_tokens"),
        col("w").as("weight"), col("cap").as("cap_tokens"),
        col("allocated").as("allocated_tokens"), col("capped"),
        col("share_ppm"), col("epochs_milli_used"))
      .orderBy(col("source"))
  }

  /** Leakage-free train/val/test split audit: assign every document the
    * split of its duplicate-CLUSTER root (so near-duplicate documents can
    * never straddle train and eval — the classic contamination channel a
    * per-document hash split leaves wide open, Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better", §5),
    * and measure the difference. `clusters` is
    * [[Dedup.duplicateClusters]]' output (id, cluster_root, is_survivor);
    * `pairs` is the near-dup pair relation (id_a, id_b) the clusters
    * were built from.
    *
    * Output, one row per split: n_docs, n_clusters, n_survivors, plus
    * two whole-corpus constants that ARE the audit:
    *  - leak_pairs_cluster — near-dup pairs straddling two splits under
    *    the cluster-aware assignment. Structurally 0 (a pair's endpoints
    *    share a connected component, hence a root, hence a split);
    *    emitting it puts the guarantee itself under the driver hash.
    *  - leak_pairs_naive — the same count under the per-document hash
    *    split ([[trainValTestSplit]]): the contamination a naive split
    *    WOULD have shipped.
    *
    * Scale: split assignment is a pure column over the doc-sized cluster
    * frame; the leak probe is two id-keyed equi-joins of the pair stream
    * against that frame, then one global one-row aggregate broadcast
    * back onto the 3-row per-split frame. Nothing is quadratic; no
    * driver state beyond what duplicateClusters already bounds.
    */
  def clusterSplitAudit(clusters: DataFrame, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    def splitOf(b: Column) =
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test")
    val assigned = clusters.select(col("id"), col("cluster_root"),
      col("is_survivor"),
      splitOf(idBucket(col("cluster_root"), 100)).as("split"),
      splitOf(idBucket(col("id"), 100)).as("naive_split"))
    val perSplit = assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_root")).as("n_clusters"),
        sum(when(col("is_survivor"), 1L).otherwise(0L)).as("n_survivors"))
    val ends = pairs.select(col("id_a"), col("id_b"))
      .join(assigned.select(col("id").as("id_a"),
        col("split").as("split_a"), col("naive_split").as("naive_a")),
        Seq("id_a"))
      .join(assigned.select(col("id").as("id_b"),
        col("split").as("split_b"), col("naive_split").as("naive_b")),
        Seq("id_b"))
    val leaks = ends.agg(
      coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)
        .otherwise(0L)), lit(0L)).as("leak_pairs_cluster"),
      coalesce(sum(when(col("naive_a") =!= col("naive_b"), 1L)
        .otherwise(0L)), lit(0L)).as("leak_pairs_naive"))
    perSplit.crossJoin(broadcast(leaks)).orderBy(col("split"))
  }

  /** Mixture-diversity audit: per group, how concentrated is the
    * categorical mix (languages per source, domains per shard)? Entropy
    * is the textbook read but needs a transcendental log; the
    * Gini–Simpson family is the same signal as an exact RATIONAL —
    * Simpson's λ = Σ p_c² (the probability two random docs share a
    * category), its complement, the dominant-category share, and the
    * effective category count 1/λ (Hill number of order 2: "this source
    * behaves like N equally-likely languages"), all integer
    * cross-multiplications of category counts — engine-replayable, no
    * float anywhere.
    *
    * The mixture read a token-budget allocator (q147) consumes next to
    * its availability numbers: a source with 6 languages at effective
    * 1.1 is a monoculture with decoration, not a multilingual feed.
    *
    * Scale shape: one (group, category) count aggregation (map-side
    * partial), one |groups×categories|-row roll-up. Never row×row.
    */
  def mixtureDiversity(df: DataFrame, grpCol: Column, catCol: Column): DataFrame = {
    val counts = df.select(grpCol.as("grp"), catCol.as("cat"))
      .filter(col("cat").isNotNull)
      .groupBy(col("grp"), col("cat")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("grp"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_cats"),
        max(col("c")).as("max_c"),
        sum(col("c") * col("c")).as("sum_sq"))
      // All cross-multiplications ride DECIMAL(38,0) (the giniByGroup
      // discipline): in BIGINT, sum_sq*1e6 wraps silently once one
      // category holds ~3M+ docs (sum_sq > 9.2e12) and n_docs²*1000
      // wraps at ~96M docs per group — wrong/negative ppm at exactly the
      // corpus sizes this audit targets, and DIVERGING from an external
      // engine that errors or widens instead of wrapping. `div` on
      // DECIMAL(38,0) returns LONG; all operands are non-negative so
      // truncate-vs-floor agree.
      .select(col("grp"), col("n_docs"), col("n_cats"),
        expr("(CAST(max_c AS DECIMAL(38,0)) * 1000000) div n_docs")
          .as("dominant_ppm"),
        expr("(CAST(sum_sq AS DECIMAL(38,0)) * 1000000) div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)")
          .as("simpson_ppm"),
        (lit(1000000L) -
          expr("(CAST(sum_sq AS DECIMAL(38,0)) * 1000000) div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)"))
          .as("gini_simpson_ppm"),
        expr("(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000) div sum_sq")
          .as("effective_cats_milli"))
      .orderBy(col("grp"))
  }

  /** Purged temporal-split audit (the purging/embargo discipline of
    * López de Prado, *Advances in Financial Machine Learning* 2018,
    * ch. 7 — general to any time-split ML corpus): a train/eval split at
    * time T leaks through entity RECENCY even when no row crosses the
    * boundary, because features aggregated from an entity's train rows
    * just before T are near-duplicates of that entity's eval behavior
    * just after. The fixes are purging (drop train rows inside the
    * embargo window [T−g, T)) and knowing how much eval is exposed.
    * This audit measures both, exactly, on the actual stream:
    * `n_embargo_train` (rows purging would drop, with `purged_ppm` of
    * train) and `n_eval_leaky` (eval rows whose key was active in the
    * embargo window, with `leaky_ppm` of eval) — the number that decides
    * whether a time-split benchmark is measuring generalization or
    * memory. Complements the content-based leak audits (q148/q180 text
    * contamination, q149 cluster splits): same question, temporal axis.
    *
    * Scale shape: ONE cached (ts, key) projection feeds everything; the
    * embargo key set is a keyed distinct (bounded by entities active in
    * g hours, not the corpus) and the exposure count is a LEFT SEMI join
    * on the key — shuffle-keyed, AQE free to broadcast the window-sized
    * side; the remaining counts ride one aggregation with map-side
    * partials. Nothing is collected; ppm guards divide-by-zero (an
    * empty side reports null, not a crash).
    *
    * `boundary` must be a literal `yyyy-MM-dd HH:mm:ss` timestamp — it
    * is spliced into a `timestamp'...'` literal on both engines.
    */
  def purgedSplitAudit(df: DataFrame, tsCol: Column, keyCol: Column,
      boundary: String, embargoHours: Int): DataFrame = {
    require(embargoHours > 0,
      s"purgedSplitAudit: embargoHours must be > 0, got $embargoHours")
    require(boundary.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""),
      s"purgedSplitAudit: boundary must be 'yyyy-MM-dd HH:mm:ss', got $boundary")
    val b = expr(s"timestamp'$boundary'")
    val lo = expr(s"timestamp'$boundary' - INTERVAL $embargoHours HOURS")
    val ev = CacheScope.cached(df.select(tsCol.as("ts"), keyCol.as("k"))
      .filter(col("ts").isNotNull))
    val embKeys = ev.filter(col("ts") >= lo && col("ts") < b)
      .select(col("k")).distinct()
    val leaky = ev.filter(col("ts") >= b)
      .join(embKeys, Seq("k"), "left_semi")
      .agg(count(lit(1)).as("n_eval_leaky"))
    val keys = embKeys.agg(count(lit(1)).as("n_embargo_keys"))
    ev.agg(
        sum(when(col("ts") < b, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("ts") >= b, 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("ts") >= lo && col("ts") < b, 1L).otherwise(0L))
          .as("n_embargo_train"))
      .crossJoin(broadcast(keys))
      .crossJoin(broadcast(leaky))
      .select(col("n_train"), col("n_eval"), col("n_embargo_train"),
        col("n_embargo_keys"), col("n_eval_leaky"),
        when(col("n_eval") > 0,
          expr("(n_eval_leaky * 1000000) div n_eval")).as("leaky_ppm"),
        when(col("n_train") > 0,
          expr("(n_embargo_train * 1000000) div n_train")).as("purged_ppm"))
  }
}
