package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.functions.MisraGries

/** Frequency-analysis operators built on bounded sketches. The exact
  * alternative (`groupBy(key).count()` over the full stream, as q54 does
  * for the top-k table) shuffles one row per DISTINCT key — fine for a
  * bounded vocabulary, but at 100 TB a key column like raw tokens, URLs or
  * user ids can hold billions of distinct values, and the full-vocabulary
  * shuffle (plus the hash map each reducer must hold) becomes the
  * bottleneck. The sketch path never materializes the vocabulary.
  */
object Frequency {

  /** Exact heavy hitters — every key whose frequency strictly exceeds
    * n/k — computed in two passes without ever grouping by the full key
    * space:
    *
    *   1. CANDIDATES: a [[graft.functions.MisraGries]] summary of width k
    *      per task, merged associatively (map-side partial aggregation —
    *      the shuffle carries ≤ k counters per task, not the vocabulary).
    *      The merged key set provably contains every key with frequency
    *      > n/(k+1) ⊇ all heavy hitters; it may also contain false
    *      positives, which is why pass 2 exists.
    *   2. RECOUNT: exact counts for the ≤ k candidates only, via a
    *      broadcast semi-join (rows with non-candidate keys never enter
    *      the aggregation), then the exact `freq · k > n` cut.
    *
    * The result is therefore EXACT and deterministic — independent of row
    * order, partitioning and sketch merge order, which only affect the
    * transient false-positive set. Returns (key, freq), one row per heavy
    * hitter.
    *
    * `keyCol` rows with NULL keys are ignored (they are not a key; n
    * counts non-null rows only). The source is read twice (sketch +
    * recount), so the keyed stream is cached through [[CacheScope]] —
    * at scale prefer re-reading columnar storage over caching 100 TB.
    */
  def heavyHitters(df: DataFrame, keyCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"heavyHitters: k must be >= 2, got $k")
    val keyed = CacheScope.cached(df.select(keyCol.as("key")).filter(col("key").isNotNull))
    val candidates = keyed
      .agg(MisraGries.misra_gries(col("key"), k).as("cands"))
      .select(explode(col("cands")).as("key"))
    val total = keyed.agg(count(lit(1)).as("n_total"))
    keyed
      .join(broadcast(candidates), Seq("key"), "left_semi")
      .groupBy(col("key")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") * k > col("n_total"))
      .select(col("key"), col("freq"))
  }

  /** Per-stratum [[heavyHitters]]: the n/k cut applied WITHIN each group —
    * "which tokens dominate each source/language/domain", the per-domain
    * boilerplate-detection shape. Same two passes, grouped: the sketch runs
    * as a grouped aggregate (one k-counter summary per group per task on
    * the shuffle — the group count, not the vocabulary, bounds state), the
    * candidate table is |groups|·k rows (broadcast), and the recount
    * aggregates only (group, candidate-key) pairs.
    */
  def heavyHittersPerGroup(df: DataFrame, groupCol: Column, keyCol: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"heavyHittersPerGroup: k must be >= 2, got $k")
    val keyed = CacheScope.cached(df.select(groupCol.as("grp"), keyCol.as("key"))
      .filter(col("key").isNotNull))
    val candidates = keyed.groupBy(col("grp"))
      .agg(MisraGries.misra_gries(col("key"), k).as("cands"))
      .select(col("grp"), explode(col("cands")).as("key"))
    val totals = keyed.groupBy(col("grp")).agg(count(lit(1)).as("n_total"))
    keyed
      .join(broadcast(candidates), Seq("grp", "key"), "left_semi")
      .groupBy(col("grp"), col("key")).agg(count(lit(1)).as("freq"))
      .join(broadcast(totals), Seq("grp"))
      .filter(col("freq") * k > col("n_total"))
      .select(col("grp"), col("key"), col("freq"))
  }

  /** Count–Min point-query audit: build ONE [[graft.functions.CountMin]]
    * grid over the key stream (fixed depth×width state per task,
    * mergeable by addition — the billion-key point-frequency sketch
    * Misra–Gries's bounded key SET can't answer), then probe it with the
    * `probeTopK` most frequent keys and report estimate vs exact.
    *
    * The sketch state is deterministic (sums under md5-derived buckets),
    * so estimates are exact functions of the data — replayable by any
    * engine — and the one-sided guarantee is STRUCTURAL: `cms_est ≥
    * exact_n` always (`never_undercounts` puts it under the hash);
    * `overcount_ppm` reports the collision mass each probe absorbed,
    * the quantity the width buys down.
    *
    * Scale shape: the sketch is a single fixed-size aggregate (map-side
    * partials, one grid per task on the wire); probes ride an exact
    * (key) aggregation + TakeOrdered; estimation is `probeTopK` rows ×
    * a broadcast one-row grid. The key stream feeds sketch + probe
    * passes, so it is cached through [[CacheScope]] (at 100 TB prefer
    * re-reading columnar storage).
    */
  def countMinAudit(df: DataFrame, keyCol: Column, depth: Int, width: Int,
      probeTopK: Int): DataFrame = {
    require(depth >= 2 && width >= 2, "need depth >= 2 and width >= 2")
    require(probeTopK >= 1, "probeTopK must be >= 1")
    val keyed = CacheScope.cached(
      df.select(keyCol.as("key")).filter(col("key").isNotNull))
    val sk = keyed.agg(
      graft.functions.CountMin.count_min(col("key"), depth, width).as("sk"),
      count(lit(1)).as("n_total"))
    val probes = keyed.groupBy(col("key")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("key")).limit(probeTopK)
    val cells = (0 until depth).map { i =>
      element_at(col("sk"), (lit(i * width) +
        pmod(conv(substring(md5(concat(lit(s"$i:"), col("key"))), 1, 15),
          16, 10).cast("long"), lit(width.toLong)) + 1).cast("int"))
    }
    probes.crossJoin(broadcast(sk))
      .withColumn("cms_est", least(cells: _*))
      .select(col("key"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overcount"),
        expr("((cms_est - exact_n) * 1000000) div n_total").as("overcount_ppm"),
        (col("cms_est") >= col("exact_n")).as("never_undercounts"))
      .orderBy(col("key"))
  }

  /** HyperLogLog cardinality audit — the third leg of the sketch triptych
    * ([[MisraGries]]: which keys are heavy; [[graft.functions.CountMin]]:
    * how often is THIS key; [[graft.functions.HyperLogLog]]: how many
    * DISTINCT keys): per group, the 2^p register vector plus its exact
    * replayable sufficient statistics and the raw Flajolet estimator.
    *
    * Everything after the registers is EXACT integer arithmetic, so the
    * whole row is engine-replayable (the property the audit surface is
    * built on):
    *
    *  - `s_scaled` is the estimator's denominator Σ_j 2^−M_j held as the
    *    INTEGER Σ_j 2^(E−M_j) with E = 61−p (the max rank), which fits a
    *    BIGINT exactly for every p (≤ 2^p · 2^E = 2^61) — no floating
    *    harmonic mean, no summation-order sensitivity;
    *  - `hll_est_milli` = ⌊α_m·m²·2^E·1000 / (s_scaled·10^6)⌋ with α_m
    *    pinned in ppm (the Flajolet constant 0.7213/(1+1.079/m) for
    *    m ≥ 128; 0.673/0.697/0.709 for m = 16/32/64), evaluated entirely
    *    in DECIMAL(38,0) — both the numerator literal and the floor
    *    division replay bit-for-bit in any exact-integer engine;
    *  - `lc_regime` marks rows where the RAW estimator is known-biased
    *    (est ≤ 2.5m and empty registers remain — Flajolet §4's
    *    small-range correction applies there; the correction itself needs
    *    a transcendental ln, so the flag is exported rather than a lossy
    *    double).
    *
    * `exact_distinct` is the audit baseline — the very aggregation HLL
    * exists to avoid (its shuffle carries the vocabulary). It rides the
    * same single group-by pass here because the audit needs the truth;
    * the production read is `hll_registers` alone, whose map-side partial
    * state is one 2^p-int vector per task regardless of key cardinality,
    * mergeable across partitions, days and engines by element-wise max.
    */
  /** Pairwise distinct-key overlap between groups from HLL register
    * ALGEBRA — union by element-wise max, intersection by
    * inclusion–exclusion — the scale path for q133's exact
    * source-vocabulary overlap: exact pairwise intersection costs
    * |pairs| vocabulary-sized joins, while this costs |groups|
    * fixed-size aggregates plus |pairs| 256-int merges, so a 400-pair
    * matrix over billion-key vocabularies is a broadcast nested loop
    * over a |groups|-row frame.
    *
    * All estimates ride the [[hllCardinalityAudit]] exact-integer
    * machinery (integer Σ 2^(E−M_j) denominators, one DECIMAL(38,0)
    * floor division against the pinned α_m literal), so the whole
    * matrix replays in any engine. `est_intersect_milli` is SIGNED —
    * inclusion–exclusion of raw estimators can dip below zero on
    * near-disjoint pairs, and reporting the raw value keeps the row an
    * exact function of the registers; `overlap_milli`
    * (intersect/union, Jaccard-from-sketch) clamps at zero BEFORE its
    * division so the floor semantics agree across engines.
    */
  def hllOverlapMatrix(df: DataFrame, groupCol: Column, keyCol: Column,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"hllOverlapMatrix: need 4 <= p <= 16, got $p")
    val m = 1 << p
    val e = 61 - p
    val num =
      BigInt(graft.functions.HyperLogLog.alphaPpm(m)) * m * m * (BigInt(1) << e) * 1000
    def estOf(sCol: String) = expr(
      s"CAST('$num' AS DECIMAL(38,0)) div (CAST($sCol AS DECIMAL(38,0)) * 1000000)")
    val regs = df.select(groupCol.as("grp"), keyCol.as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("grp"))
      .agg(graft.functions.HyperLogLog.hll_registers(col("key"), p).as("regs"))
      .withColumn("s_scaled", expr(
        s"aggregate(regs, CAST(0 AS BIGINT), (a, x) -> a + shiftleft(CAST(1 AS BIGINT), $e - x))"))
      .withColumn("est_milli", estOf("s_scaled"))
    val a = regs.select(col("grp").as("source_a"), col("regs").as("ra"),
      col("est_milli").as("est_a_milli"))
    val b = regs.select(col("grp").as("source_b"), col("regs").as("rb"),
      col("est_milli").as("est_b_milli"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .withColumn("s_union", expr(
        s"aggregate(zip_with(ra, rb, (x, y) -> greatest(x, y)), CAST(0 AS BIGINT), (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), $e - r))"))
      .withColumn("est_union_milli", estOf("s_union"))
      .select(col("source_a"), col("source_b"), col("est_a_milli"),
        col("est_b_milli"), col("est_union_milli"),
        (col("est_a_milli") + col("est_b_milli") - col("est_union_milli"))
          .as("est_intersect_milli"),
        expr("""(greatest(CAST(0 AS BIGINT),
          |  est_a_milli + est_b_milli - est_union_milli) * 1000)
          |  div est_union_milli""".stripMargin).as("overlap_milli"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Join-SIZE estimation from Count–Min inner products (Cormode &
    * Muthukrishnan 2005 §4.3: for sketches of streams A and B with
    * shared hashes, Σ_w CM_A[r][w]·CM_B[r][w] ≥ |A ⋈ B| for every depth
    * row r, and the minimum over rows is within ε·N_A·N_B of the truth
    * w.h.p.) — the PLANNER's read: "how big would this join be?" from
    * two fixed-size grids, without shuffling either input by the key.
    * At 100 TB that is the difference between a catalog lookup and a
    * trial execution; a reorderer or an AQE-style threshold gate consumes
    * exactly this number.
    *
    * Structurally one-sided (collisions only ADD counts), so
    * `never_undercounts` is a theorem, not an observation. The exact
    * join size rides along as the audit baseline — computed from
    * per-key count frames (Σ_k c_A(k)·c_B(k), never by materializing the
    * join), which is the vocabulary-sized aggregation the sketch path
    * exists to avoid. The estimate itself is exact integer arithmetic
    * over two deterministic grids (md5 buckets, the [[CountMin.bucket]]
    * discipline), so the whole row replays in any engine. BIGINT fold is
    * safe whenever the answer fits a BIGINT: every per-cell product is
    * bounded by the row's total estimate.
    */
  def cmJoinSizeAudit(df: DataFrame, keyA: Column, keyB: Column,
      depth: Int = 3, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 16,
      s"cmJoinSizeAudit: depth must be in [1, 16], got $depth")
    require(width >= 1,
      s"cmJoinSizeAudit: width must be >= 1 (it is the bucket modulus), got $width")
    // Both sides arrive as NULLABLE key expressions over ONE input frame
    // (e.g. when(side = 'R', key) / when(side = 'N', key)): count_min
    // skips nulls, so BOTH grids build in a single scan's aggregation,
    // and the exact baseline is a second scan — sketch pass + audit
    // pass, the honest minimum (the naive two-DataFrame form cost 4 full
    // scans of the same table). Disjoint tables still work: pass each
    // side's key column of a union/joined frame.
    val pro = df.select(keyA.cast("string").as("key_a"),
      keyB.cast("string").as("key_b"))
    val grids = pro.agg(
      graft.functions.CountMin.count_min(col("key_a"), depth, width).as("grid_a"),
      graft.functions.CountMin.count_min(col("key_b"), depth, width).as("grid_b"))
    // Exact |A ⋈ B| = Σ_k c_A(k)·c_B(k) from per-key count pairs in one
    // pass: each row explodes to its (key, side) memberships, so a row
    // carrying both keys (self-join or overlapping sides) counts in both
    // columns under its OWN key — no cross-key mixups.
    val exact = pro
      .select(explode(array(
        struct(col("key_a").as("key"), lit(1L).as("a"), lit(0L).as("b")),
        struct(col("key_b").as("key"), lit(0L).as("a"), lit(1L).as("b")))).as("s"))
      .select(col("s.key").as("key"), col("s.a").as("a"), col("s.b").as("b"))
      .filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(sum(col("a")).as("ca"), sum(col("b")).as("cb"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_rows"))
    // Per-depth-row inner product over the row-major grids; the estimate
    // is the min over rows. Both inputs are ONE-row frames.
    val rowEsts = (0 until depth).map { r =>
      expr(s"aggregate(sequence(${r * width}, ${r * width + width - 1}), " +
        "CAST(0 AS BIGINT), (acc, j) -> " +
        "acc + element_at(grid_a, j + 1) * element_at(grid_b, j + 1))")
    }
    // least() requires >= 2 arguments; a depth-1 sketch's estimate IS its
    // only row's inner product.
    val estCol = if (rowEsts.size == 1) rowEsts.head else least(rowEsts: _*)
    exact.crossJoin(broadcast(grids))
      .withColumn("cm_est", estCol)
      .select(col("exact_rows"), col("cm_est"),
        (col("cm_est") - col("exact_rows")).as("overcount"),
        when(col("exact_rows") > 0,
          expr("((cm_est - exact_rows) * 1000000) div exact_rows"))
          .as("overcount_ppm"),
        (col("cm_est") >= col("exact_rows")).as("never_undercounts"))
  }

  /** Registers-ONLY cumulative cardinality time series — the production
    * read [[hllCardinalityAudit]]'s scaladoc promises: per (group, batch)
    * the `hll_registers` fold with the exact-integer Flajolet estimator
    * and NO exact-distinct baseline anywhere in the plan. This is the
    * query shape the streaming curation loop's `ShingleHllTable` commits
    * (one register row per batch, folded by element-wise max), declared
    * as a gated batch query so the pure-sketch path is oracle-tested.
    *
    * Two numbers per (group, batch): the BATCH's own distinct estimate
    * (that ingest's gram mass) and the CUMULATIVE estimate through this
    * batch (the vocabulary-growth curve a capacity planner reads — q175's
    * exact Heaps curve at sketch cost). The cumulative fold is a running
    * element-wise max over batches, computed by exploding each 2^p-int
    * vector to (group, register, batch) rows and taking a running max per
    * (group, register) — the windowed frame is |groups × batches × 2^p|
    * rows of integers regardless of key cardinality, and the only
    * corpus-sized work is the one map-side-partial register aggregation.
    * All estimator arithmetic is the [[hllCardinalityAudit]] discipline:
    * integer Σ 2^(E−M_j) denominators and one DECIMAL(38,0) floor
    * division against the pinned α_m literal, so every row replays
    * exactly in any engine.
    */
  def hllCardinalitySeries(df: DataFrame, groupCol: Column, batchCol: Column,
      keyCol: Column, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"hllCardinalitySeries: need 4 <= p <= 16, got $p")
    val m = 1 << p
    val e = 61 - p
    val num =
      BigInt(graft.functions.HyperLogLog.alphaPpm(m)) * m * m * (BigInt(1) << e) * 1000
    def estOf(sCol: String) = expr(
      s"CAST('$num' AS DECIMAL(38,0)) div (CAST($sCol AS DECIMAL(38,0)) * 1000000)")
    val perBatch = df
      .select(groupCol.as("grp"), batchCol.as("batch"), keyCol.as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("grp"), col("batch"))
      .agg(graft.functions.HyperLogLog.hll_registers(col("key"), p).as("regs"))
    // posexplode to one row per register, then the running max per
    // (group, register) ordered by batch IS the HLL union through time.
    // The window partitions are |groups × 2^p| with |batches| rows each —
    // bounded by construction, never keyed by the data's values.
    val exploded = perBatch.select(col("grp"), col("batch"),
      posexplode(col("regs")).as(Seq("idx", "rnk")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"), col("idx")).orderBy(col("batch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    exploded.withColumn("crnk", max(col("rnk")).over(w))
      .groupBy(col("grp"), col("batch"))
      .agg(
        // Canonical register order rebuilt from (idx, rank) pairs:
        // collect_list is order-free, array_sort on the struct (idx
        // first) restores it deterministically.
        expr("array_join(transform(array_sort(collect_list(struct(idx, crnk))), s -> CAST(s.crnk AS STRING)), ',')")
          .as("registers_csv"),
        sum(when(col("crnk") === 0, 1L).otherwise(0L)).as("zero_regs"),
        sum(col("crnk")).as("rank_sum"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $e - crnk)")).as("s_scaled"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $e - rnk)")).as("batch_s_scaled"))
      .withColumn("cum_est_milli", estOf("s_scaled"))
      .withColumn("batch_est_milli", estOf("batch_s_scaled"))
      .orderBy(col("grp"), col("batch"))
  }

  /** EXACT per-batch vocabulary-delta series — [[hllCardinalitySeries]]'s
    * audit companion: per (group, ingest batch), the batch's key
    * occurrences, its distinct keys, the keys NEVER seen in an earlier
    * batch (the marginal vocabulary that batch bought), the exact
    * cumulative vocabulary, and the new/distinct milli ratio (a
    * flattening ratio says ingestion is re-buying the same grams —
    * q175's Heaps read restated per batch). Everything integer, fully
    * replayable.
    *
    * Scale: first-occurrence-per-key is a vocabulary-sized shuffle —
    * inherent to an EXACT delta (the q175 adjudication); the production
    * path at 100 TB is the register series, with THIS as the sampled
    * audit. The keyed stream is cached so the occurrence and
    * first-occurrence aggregations share one input scan.
    */
  def exactDeltaSeries(df: DataFrame, groupCol: Column, batchCol: Column,
      keyCol: Column): DataFrame = {
    val keyed = CacheScope.cached(
      df.select(groupCol.as("grp"), batchCol.as("batch"), keyCol.as("key"))
        .filter(col("key").isNotNull))
    val occ = keyed.groupBy(col("grp"), col("batch"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("key")).as("n_distinct"))
    val firsts = keyed.groupBy(col("grp"), col("key"))
      .agg(min(col("batch")).as("batch"))
      .groupBy(col("grp"), col("batch")).agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("batch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    occ.join(firsts, Seq("grp", "batch"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      // The cumulative fold runs over the |groups × batches|-row result
      // frame, not the key stream — bounded by construction.
      .withColumn("vocab_cum", sum(col("n_new")).over(w))
      .withColumn("new_milli", expr("(n_new * 1000) div n_distinct"))
      .orderBy(col("grp"), col("batch"))
  }

  def hllCardinalityAudit(df: DataFrame, groupCol: Column, keyCol: Column,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"hllCardinalityAudit: need 4 <= p <= 16, got $p")
    val m = 1 << p
    val e = 61 - p
    // α_m·m²·2^E·1000 as one exact literal (driver-side BigInt, ≤ 10^30
    // for p ≤ 16 — inside DECIMAL(38,0)).
    val num =
      BigInt(graft.functions.HyperLogLog.alphaPpm(m)) * m * m * (BigInt(1) << e) * 1000
    val keyed = df.select(groupCol.as("grp"), keyCol.as("key"))
      .filter(col("key").isNotNull)
    keyed.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_keys"),
        countDistinct(col("key")).as("exact_distinct"),
        graft.functions.HyperLogLog.hll_registers(col("key"), p).as("registers"))
      .withColumn("zero_regs",
        size(filter(col("registers"), r => r === 0)).cast("long"))
      .withColumn("rank_sum", expr(
        "aggregate(registers, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("s_scaled", expr(
        s"aggregate(registers, CAST(0 AS BIGINT), (a, x) -> a + shiftleft(CAST(1 AS BIGINT), $e - x))"))
      .withColumn("hll_est_milli", expr(
        s"CAST('$num' AS DECIMAL(38,0)) div (CAST(s_scaled AS DECIMAL(38,0)) * 1000000)"))
      .withColumn("err_milli",
        col("hll_est_milli") - lit(1000L) * col("exact_distinct"))
      .withColumn("lc_regime",
        col("hll_est_milli") <= lit(2500L * m) && col("zero_regs") > 0)
      .orderBy(col("grp"))
  }

  /** Pairwise association rules over baskets (the k=2 frequent-itemset +
    * rule layer of Apriori, Agrawal & Srikant VLDB 1994; lift per Brin
    * et al. SIGMOD 1997): for every co-occurring unordered item pair,
    * exact support counts, both directed confidences, and lift — the
    * classic "users who do A in a session also do B" read, and at
    * curation scale the tool that surfaces correlated event types,
    * correlated sources, or correlated quality-rule failures from their
    * co-occurrence alone.
    *
    * All fixed-point exact: conf = ⌊supp_ab·10⁶ / supp_a⌋ ppm; lift
    * rides DECIMAL(38,0) (supp_ab·n_baskets and supp_a·supp_b both
    * overflow BIGINT at ~10⁹-basket scale) as
    * ⌊supp_ab·n·10³ / (supp_a·supp_b)⌋ milli — 1000 = independent.
    *
    * Scale shape: ONE cached distinct (basket, item) frame feeds all
    * three branches; the candidate generation is a basket-keyed
    * self-join, so work is Σ items_per_basket² — the standard pairwise
    * cost, bounded by basket size, never |items|². The support table is
    * |vocabulary|-sized and broadcast; pair output is ≤ |vocabulary|²
    * after its aggregation. `minPairSupport` prunes the long tail before
    * the rule arithmetic (Apriori's support threshold).
    */
  def associationRules(df: DataFrame, basketCol: Column, itemCol: Column,
      minPairSupport: Long = 1L): DataFrame = {
    require(minPairSupport >= 1, "associationRules: minPairSupport >= 1")
    val b = CacheScope.cached(df
      .select(basketCol.cast("string").as("basket"),
        itemCol.cast("string").as("item"))
      .filter(col("basket").isNotNull && col("item").isNotNull)
      .distinct())
    val n = b.agg(countDistinct(col("basket")).as("n_baskets"))
    val supp = b.groupBy(col("item")).agg(count(lit(1)).as("supp"))
    val pairs = b.select(col("basket"), col("item").as("item_a"))
      .join(b.select(col("basket"), col("item").as("item_b")), Seq("basket"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minPairSupport)
    pairs
      .join(broadcast(supp.select(col("item").as("item_a"),
        col("supp").as("supp_a"))), Seq("item_a"))
      .join(broadcast(supp.select(col("item").as("item_b"),
        col("supp").as("supp_b"))), Seq("item_b"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("supp_a"), col("supp_b"),
        col("supp_ab"), col("n_baskets"),
        expr("(supp_ab * 1000000) div supp_a").as("conf_a_to_b_ppm"),
        expr("(supp_ab * 1000000) div supp_b").as("conf_b_to_a_ppm"),
        expr("(CAST(supp_ab AS DECIMAL(38,0)) * n_baskets * 1000) div " +
          "(CAST(supp_a AS DECIMAL(38,0)) * supp_b)").as("lift_milli"))
  }
}
