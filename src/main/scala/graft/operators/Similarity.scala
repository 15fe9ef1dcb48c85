package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.CacheScope
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact baseline — queries × corpus cross join.
  *    Correct at any scale where |queries| is small (the common "embed the
  *    prompt, find 5 neighbors" shape): the corpus side streams, never
  *    materializes pairs beyond the running top-k per query.
  *  - [[lshTopK]]: the scale path — random-hyperplane bucket join. Corpus
  *    and queries hash to signature buckets; only same-bucket pairs are
  *    scored. One shuffle on the bucket key replaces the cross join; probe
  *    multiple band prefixes to trade recall for cost.
  */
object Similarity {

  /** Exact cosine top-k for each query vector. Scores are rounded to 4
    * decimals BEFORE ranking, with the neighbor id as tie-break, so the
    * ranking is stable across engines and partitionings.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDoubles(col(vecCol)).as("v_c"))
    val q = queries.select(col(idCol).as("query_id"), asDoubles(col(vecCol)).as("v_q"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(cosine(col("v_q"), col("v_c")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — the "confusable but wrong" examples a retrieval or
    * classification trainer wants in its negatives pool (high-similarity
    * same-label rows are positives, not negatives, so they are excluded
    * by construction).
    *
    * Exact brute-force baseline, same contract as [[bruteForceTopK]]
    * (round-4 scores, id tie-break, corpus streams against a small query
    * side); at scale compose the label filter into [[lshTopK]] /
    * [[ivfTopK]]'s candidate streams the same way — the filter is a
    * pushed predicate, not a post-pass, so mined negatives never lose
    * slots to excluded positives.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), asDoubles(col(vecCol)).as("v_c"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"), asDoubles(col(vecCol)).as("v_q"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .withColumn("cos_sim", round(cosine(col("v_q"), col("v_c")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("rank"),
        col("neighbor_id"), col("neighbor_label"), col("cos_sim"))
  }

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023,
    * public): assign every vector to a codebook cell, then WITHIN each
    * cell drop any vector that has a smaller-id cell-mate with cosine ≥
    * `threshold`. The cells turn the quadratic all-pairs problem into
    * Σ cell² work — the same bounded-block trade the LSH/IVF paths make,
    * and exactly why SemDeDup clusters before comparing. Output: one row
    * per vector (id, cell, is_kept, dup_of, dup_sim), dup_of the
    * SMALLEST-id similar cell-mate (deterministic; survivors are the
    * min-id representative of each similar group, kept rows have NULL
    * dup_of).
    *
    * Divergence from the paper documented: SemDeDup keeps the member
    * farthest from the centroid; this keeps the min-id member — id
    * order is stable under re-partitioning and engine choice, centroid
    * distance is a float race. The "dropped iff ANY smaller similar
    * cell-mate" rule is transitive-free by design (chains a~b~c with
    * a≁c still drop b and c): conservative for training-set dedup,
    * where over-dropping near-dups costs less than keeping them.
    *
    * Determinism: cell assignment ranks round-4 cosine with centroid-id
    * tie-break (the q35/q80 discipline); pair similarity rounds to 4
    * before the threshold; both replay exactly in SQL.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int = 50, threshold: Double = 0.9): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
    val centroids = v.filter(pmod(col("id"), lit(centroidEvery)) === 0)
      .select(col("id").as("centroid_id"), col("v").as("cv"))
    // The assignment feeds THREE consumers (both self-join sides and the
    // final attribution join) — cache it (q80's precedent) so the
    // corpus × codebook scoring pass runs once, not once per branch.
    val assigned = CacheScope.cached(v.join(broadcast(centroids))
      .withColumn("cscore", round(cosine(col("v"), col("cv")), 4))
      .groupBy(col("id"), col("v"))
      .agg(max_by(col("centroid_id"),
        struct(col("cscore"), col("centroid_id"))).as("cell")))
    val bigger = assigned.select(col("cell"), col("id"), col("v"))
    val smaller = assigned.select(col("cell"), col("id").as("id_s"),
      col("v").as("v_s"))
    val dupOf = bigger.join(smaller, Seq("cell"))
      .filter(col("id_s") < col("id"))
      .withColumn("sim", round(cosine(col("v"), col("v_s")), 4))
      .filter(col("sim") >= threshold)
      .groupBy(col("id"))
      .agg(min(col("id_s")).as("dup_of"),
        min_by(col("sim"), col("id_s")).as("dup_sim"))
    assigned.join(dupOf, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of").isNull.as("is_kept"),
        col("dup_of"), col("dup_sim"))
  }

  /** Greedy k-center coreset (Gonzalez 1985, public — the classic
    * 2-approximation): seed with the min-id vector, then repeatedly add
    * the point FARTHEST from its nearest selected center — the standard
    * diverse-subset selection for training-data curation (cover the
    * embedding space with k exemplars; the selection radius at each step
    * is the current covering radius, a quality curve worth logging).
    *
    * Determinism: distances are cosine distance QUANTIZED to integer
    * e4 units — ⌊d·10⁴+½⌋ BIGINT — before every min/argmax (floor of one
    * IEEE multiply-add: the hash-discipline quantizer, version-stable
    * where ROUND-at-scale is not; every comparison thereafter is
    * integer), ties
    * break on the smaller id, and the seed is the min id — so the
    * selected sequence is engine- and partitioning-independent and a SQL
    * oracle replays it center by center. Points at quantized distance 0
    * from a center are never selected (selection stops early if they
    * cover everything — k is a cap, not a promise).
    *
    * Scale shape: driver-iterative like [[graft.operators.Bpe.train]] —
    * k−1 rounds, each ONE corpus pass updating the running min-distance
    * column against the newly selected center (a literal vector: the
    * natural broadcast) plus a TakeOrdered argmax; generations hand off
    * materialize-then-unpersist so the active plan stays O(1) deep. Work
    * is O(k·n·dim) — the same as any k-center implementation — with no
    * shuffle except the k argmaxes.
    */
  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = CacheScope.cached(corpus.select(col(idCol).cast("long").as("id"),
      asDoubles(col(vecCol)).as("v")))
    def litVec(xs: Seq[Double]): Column = array(xs.map(lit): _*)
    def dE4(to: Seq[Double]): Column =
      floor((lit(1.0) - cosine(col("v"), litVec(to))) * lit(10000.0) + lit(0.5))
        .cast("long")
    val (firstId, firstVec) = v.orderBy(col("id")).limit(1)
      .select(col("id"), col("v")).as[(Long, Seq[Double])].head()
    val selected = Seq.newBuilder[(Int, Long, Option[Long])]
    selected += ((0, firstId, None))
    var cur = CacheScope.cached(v.withColumn("mind", dE4(firstVec)))
    // Materialize generation 0 BEFORE dropping the corpus cache (the
    // Bpe.train lifecycle): unpersisting `v` while `cur` is still lazy
    // would make iteration 1 recompute the full corpus scan from lineage.
    cur.count()
    v.unpersist()
    var rank = 1
    var exhausted = false
    while (rank < k && !exhausted) {
      // The argmax collect materializes `cur`; only then is it safe to
      // drop the previous generation (the Bpe.train lifecycle).
      val top = cur.filter(col("mind") > 0)
        .orderBy(col("mind").desc, col("id")).limit(1)
        .select(col("id"), col("mind"), col("v"))
        .as[(Long, Long, Seq[Double])]
        .collect()
      top.headOption match {
        case Some((id, radius, vec)) =>
          selected += ((rank, id, Some(radius)))
          val next = CacheScope.cached(cur.withColumn("mind",
            least(col("mind"), dE4(vec))))
          next.count() // materialize before dropping the previous generation
          cur.unpersist()
          cur = next
          rank += 1
        case None => exhausted = true
      }
    }
    cur.unpersist()
    selected.result()
      .toDF("rank", "center_id", "radius_e4")
  }

  /** IVF-style ANN: a deterministic subsample of the corpus acts as the
    * centroid codebook (every `centroidEvery`-th vector — training-free,
    * reproducible); each corpus vector is assigned to its nearest centroid
    * (one broadcast join + max_by aggregation, no shuffle of the corpus
    * beyond the assignment), and each query probes its nearest centroids'
    * inverted lists. At 100 TB the inverted lists are the partitioning
    * key: a query touches its probed partitions instead of the whole
    * corpus.
    *
    * Probe width: `nProbe > 0` pins a fixed probe count; `nProbe <= 0`
    * (the default) ADAPTS to the codebook — `max(minProbe,
    * ceil(probeFraction × nCentroids))`. A fixed count silently probes a
    * shrinking corpus fraction as the codebook grows with the data
    * (measured here: recall@5 fell 34→17 of 50 when the codebook grew
    * 10→40 at fixed nProbe=4); scaling with the codebook holds the probed
    * fraction — and therefore recall — steady across scale factors.
    * `probeFraction` is the recall/cost knob: well-clustered corpora
    * sustain high recall at small fractions, while near-uniform vectors
    * (like this synthetic corpus) need a large fraction for recall@5 ≥
    * 0.8. The count is evaluated per query over the already-broadcast
    * codebook, so adaptivity adds no job and no extra shuffle.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroidEvery: Int = 50, nProbe: Int = 0,
      probeFraction: Double = 0.6, minProbe: Int = 8): DataFrame = {
    require(probeFraction > 0 && probeFraction <= 1.0 && minProbe >= 1,
      "probeFraction must be in (0,1] and minProbe >= 1")
    val v = corpus.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
    val centroids = v.filter(pmod(col("id"), lit(centroidEvery)) === 0)
      .select(col("id").as("centroid_id"), col("v").as("cv"))
    // Assign each corpus vector to its best centroid (broadcast codebook).
    val assigned = v.join(broadcast(centroids))
      .withColumn("cscore", cosine(col("v"), col("cv")))
      .groupBy(col("id"), col("v"))
      .agg(max_by(col("centroid_id"), struct(col("cscore"), col("centroid_id"))).as("centroid_id"))
    // Each query probes its probe-limit nearest centroids. The codebook
    // size rides the same per-query window partition as the probe rank, so
    // the adaptive limit costs nothing beyond the fixed one.
    val q = queries.select(col(idCol).as("query_id"), asDoubles(col(vecCol)).as("v_q"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pscore").desc, col("centroid_id"))
    val wQuery = Window.partitionBy(col("query_id"))
    val probeLimit =
      if (nProbe > 0) lit(nProbe)
      else greatest(lit(minProbe),
        ceil(count(lit(1)).over(wQuery) * lit(probeFraction)))
    val probes = q.join(broadcast(centroids))
      .withColumn("pscore", cosine(col("v_q"), col("cv")))
      .withColumn("pr", row_number().over(wProbe))
      .withColumn("probe_limit", probeLimit) // window exprs can't sit in a filter
      .filter(col("pr") <= col("probe_limit"))
      .select(col("query_id"), col("v_q"), col("centroid_id"))
    // Score only vectors in the probed lists. The PROBES side is tiny
    // (|queries| × nProbe) — broadcast it; a shuffle join on centroid_id
    // would hash a 10-ish-key domain (guaranteed skew) and sort the whole
    // assigned corpus.
    val scored = broadcast(probes).join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cos_sim", round(cosine(col("v_q"), col("v")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("cos_sim"))
  }

  /** One deterministic Lloyd refinement step over the id-seeded IVF
    * codebook: assign every vector to its nearest centroid, recompute
    * each centroid as the per-dimension mean of its members, re-assign,
    * and report per-centroid membership counts before and after. This is
    * the codebook-training step [[ivfTopK]]'s training-free subsample
    * skips — run it a few times on a corpus sample to tighten the
    * inverted lists (k-means for embedding clustering / semantic dedup).
    *
    * Everything is DETERMINISTIC and engine-replayable:
    *  - assignment ranks on round-4 cosine with centroid-id tie-break
    *    (ulp differences between engines collapse, ties break fixed);
    *  - the mean is computed on embeddings quantized to 1e-7 via
    *    floor-to-integer — integer sums are exact and floor (unlike
    *    round) has no engine-dependent halfway mode, so the refined
    *    centroids are bit-identical doubles in any engine.
    *
    * Scale shape: centroids broadcast in both assignment passes; the
    * per-dimension mean is a (centroid × dim)-keyed aggregate of the
    * posexploded members (map-side partial sums — dims× row expansion
    * but only two narrow integer columns wide). The initial assignment
    * feeds three branches, so it is cached through [[CacheScope]].
    */
  def kmeansRefineCounts(corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int = 50): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
    val cent0 = v.filter(pmod(col("id"), lit(centroidEvery)) === 0)
      .select(col("id").as("centroid_id"), col("v").as("cv"))
    def assign(cents: DataFrame): DataFrame =
      v.join(broadcast(cents))
        .withColumn("cscore", round(cosine(col("v"), col("cv")), 4))
        .groupBy(col("id"), col("v"))
        .agg(max_by(col("centroid_id"),
          struct(col("cscore"), col("centroid_id"))).as("centroid_id"))
    val a0 = CacheScope.cached(assign(cent0))
    val sums = a0.select(col("centroid_id"), posexplode(col("v")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(((sum(floor(col("col") * lit(1.0e7))).cast("double") / lit(1.0e7)) /
        count(lit(1))).as("cval"))
    val cent1 = sums.groupBy(col("centroid_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        (s: Column) => s.getField("cval")).as("cv"))
    val n0 = a0.groupBy(col("centroid_id")).agg(count(lit(1)).as("n_init"))
    val n1 = assign(cent1).groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_refined"))
    n0.join(n1, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        coalesce(col("n_init"), lit(0L)).as("n_init"),
        coalesce(col("n_refined"), lit(0L)).as("n_refined"))
  }

  /** Recall audit for an approximate top-k result against the exact one.
    *
    * Appends two columns to `approx`:
    *  - `exact_hits`: per query, how many of its approximate neighbors are
    *    also in the exact top-k (the numerator of recall@k);
    *  - `recall_ok`: corpus-level floor — total hits across all queries
    *    must reach `minTotalHits`. A broken bucket join or a degenerate
    *    signature collapses recall to ~0, so the floor is a catastrophic-
    *    regression gate, not a tuning target.
    *
    * Scale note: both inputs are top-k outputs (|queries| × k rows), so
    * everything here operates on frames that do NOT grow with the corpus:
    * the exact pairs broadcast, and each approx row is consumed exactly
    * once (a re-aggregation join would re-evaluate the whole ANN subplan).
    * The global window is a single partition over |queries| × k rows —
    * bounded by construction, not by data volume.
    */
  def withRecallGate(approx: DataFrame, exact: DataFrame,
      minTotalHits: Int): DataFrame = {
    val exactPairs = exact.select(col("query_id"), col("neighbor_id"),
      lit(1).as("bf_hit"))
    val wQuery = Window.partitionBy(col("query_id"))
    val wAll = Window.partitionBy()
    approx.join(broadcast(exactPairs), Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("bf_hit"), lit(0)))
      .withColumn("exact_hits", sum(col("hit")).over(wQuery))
      .withColumn("recall_ok", sum(col("hit")).over(wAll) >= minTotalHits)
      .drop("bf_hit", "hit")
  }

  /** Multi-table LSH-bucketed ANN: `tables` independent hyperplane hash
    * tables, each bucketing on `prefixBits` sign bits; a pair becomes a
    * candidate if it collides in ANY table (standard LSH OR-construction).
    * Per-table collision probability for angle θ is (1 - θ/π)^prefixBits,
    * overall recall 1-(1-p)^tables — tune tables↑ for recall, prefixBits↑
    * for selectivity. The shuffle is on (table, bucket), never a cross
    * join: each vector expands to `tables` rows regardless of corpus size.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      prefixBits: Int = 8, tables: Int = 8): DataFrame = {
    def sig(df: DataFrame, id: String, vAlias: String) =
      df.select(col(idCol).as(id), asDoubles(col(vecCol)).as(vAlias))
        .withColumn("buckets", array((0 until tables).map(t =>
          hyperplaneSignature(col(vAlias), prefixBits, seed = t)): _*))
        .select(col(id), col(vAlias), posexplode(col("buckets")))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val c = sig(corpus, "neighbor_id", "v_c")
    val q = sig(queries, "query_id", "v_q")
    val candidates = q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("v_q"), col("v_c"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .withColumn("cos_sim", round(cosine(col("v_q"), col("v_c")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Embedding-space label-noise triage: for each label, the vectors
    * farthest from their OWN label's centroid, ranked by the exact ratio
    * of their squared distance to the label's mean squared distance
    * (ppm). A vector sitting several× farther out than its label-mates
    * is the classic mislabeling signature (Northcutt et al.'s confident-
    * learning intuition applied geometrically) — the audit a labeled
    * embedding set runs before the labels train anything.
    *
    * Exact integer arithmetic end to end: components quantize to e4-unit
    * BIGINT once, and the squared distance to the (rational!) centroid
    * s/n is carried cross-multiplied as d2n2 = n²·‖x‖² − 2n·(x·s) + ‖s‖²
    * = n²·‖x − s/n‖² — never a float division. The reported ratio
    * divides out the shared n² factor exactly:
    * ratio_ppm = d2n2·n·10⁶ div Σ d2n2. Products ride DECIMAL(38,0)
    * (n²·‖x‖² passes 2⁶³ once a label holds ~200k e4-quantized vectors).
    *
    * Scale shape: one posexplode pass (n·dim rows, map-side combined)
    * → a (label, dim)-keyed sum aggregate (|labels|·dim rows, broadcast
    * back) → one vec_id-keyed aggregate for per-vector sufficient stats
    * → label-sized broadcasts for totals → per-label top-k window over
    * frames already reduced to one row per vector. Nothing pairwise,
    * nothing densified, no global sort.
    */
  def labelOutlierAudit(embeddings: DataFrame, idCol: String,
      vecCol: String, labelCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = embeddings
      .select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        posexplode(asDoubles(col(vecCol))).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        floor(col("x") * lit(10000.0) + lit(0.5)).cast("long").as("q"))
    // Cached, not recomputed: three branches (the per-vector join's
    // broadcast, s2, n) consume this frame with DIFFERENT pruned
    // columns, so their subtrees canonicalize differently and
    // ReuseExchange never fires — uncached, each branch re-scanned the
    // corpus (4 scans measured). The frame is |labels|·dim rows — cache
    // cost is nil at any scale.
    val sums = CacheScope.cached(e.groupBy(col("label"), col("i"))
      .agg(sum(col("q")).as("sv"), count(lit(1)).as("cnt")))
    val s2 = sums.groupBy(col("label"))
      .agg(sum(col("sv").cast(dec) * col("sv")).as("s2"))
    // n rides the component aggregate (every component appears once per
    // vector, so any single i's count IS the label's vector count) — no
    // separate scan of the input.
    val n = sums.filter(col("i") === 0)
      .select(col("label"), col("cnt").as("n"))
    val perVec = e.join(broadcast(sums), Seq("label", "i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q").cast(dec) * col("q")).as("xx"),
        sum(col("q").cast(dec) * col("sv")).as("xsv"))
    val d2 = perVec
      .join(broadcast(n), "label").join(broadcast(s2), "label")
      .select(col("vec_id"), col("label"), col("n"),
        (col("n").cast(dec) * col("n") * col("xx")
          - lit(2).cast(dec) * col("n") * col("xsv")
          + col("s2")).as("d2n2"))
    // The label total rides a whole-partition window instead of a
    // separate aggregate + join-back: a tot-frame join would duplicate
    // the ENTIRE d2 subtree in the plan (the q79/q89 lesson — measured
    // here as 8 static scans before the rewrite), while the window
    // shares its label hash partitioning with the rank window below —
    // one exchange serves both.
    val ranked = d2
      .withColumn("sum_d2",
        sum(col("d2n2")).over(Window.partitionBy(col("label"))))
      // exact integral quotient (IntegralDivide) — `/` on decimals can
      // round the last digit and break the integer hash contract. A
      // degenerate all-identical label (sum_d2 = 0) reports null ratios
      // rather than dividing by zero.
      .withColumn("ratio_ppm",
        when(col("sum_d2") > 0,
          expr("CAST((d2n2 * n * 1000000) div sum_d2 AS BIGINT)")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("ratio_ppm").desc_nulls_last, col("vec_id"))))
      .filter(col("rank") <= topK)
    ranked.select(col("label"), col("n"), col("rank"), col("vec_id"),
        col("ratio_ppm"))
      .orderBy(col("label"), col("rank"))
  }

  /** Squared L2 through the codegen'd dot-product expansion
    * (d² = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩, the identical-operand IEEE shape both
    * engines compute bit-alike), rounded to 4 decimals and returned as a
    * micro-unit BIGINT: the only form in which PQ distances enter the
    * hash, so sums over it are exact and order-free.
    */
  private def d2micro(a: Column, b: Column): Column =
    floor(round(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b), 4) *
      lit(1000000.0) + lit(0.5)).cast("long")

  /** The full (query, vector) → ADC distance frame for
    * [[pqDistortionAudit]]: encode every corpus vector as
    * `numSubspaces` sub-codebook ids, broadcast the per-query lookup
    * tables, and reduce the (subspace, code)-joined stream per
    * (query, vector). All distances are round-4 micro-unit BIGINTs; the
    * ADC sum over them is exact and order-free.
    */
  private def pqAdcFrame(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      numSubspaces: Int, dim: Int, centroidEvery: Int,
      codebookCap: Int): DataFrame = {
    require(dim % numSubspaces == 0, "dim must divide into numSubspaces")
    require(codebookCap >= 2, "codebookCap must be >= 2")
    val sub = dim / numSubspaces
    def slices(df: DataFrame, outId: String): DataFrame =
      df.select(col("_id").as(outId), posexplode(array(
        (0 until numSubspaces).map(j =>
          slice(col("_v"), j * sub + 1, sub)): _*)).as(Seq("j", "sv")))
    val v = corpus.select(col(idCol).as("_id"), asDoubles(col(vecCol)).as("_v"))
    // The codebook is CAPPED, not corpus-proportional: real PQ trains a
    // fixed-k codebook on a sample — an id-%-only rule would grow it
    // with the corpus and make encoding O(n·k_cb) scale quadratically.
    // Measured: at sf0.01 the capped 64-entry book loses NOTHING of the
    // 500-entry book's distance-field correlation (0.746 both ways).
    val cs = slices(v.filter(pmod(col("_id"), lit(centroidEvery)) === 0 &&
        expr(s"_id div $centroidEvery") < codebookCap),
        "centroid_id")
      .withColumnRenamed("sv", "csv")
    // The assignment argmin rides ONE long, not min_by over a struct: a
    // struct ordering buffer is not mutable-fixed-width, so the whole
    // corpus × codebook distance stream fell to SortAggregate (a
    // data-sized sort before partial AND final agg). Packing
    // (sd_micro, centroid_id) into sd_micro·idBound + centroid_id keeps
    // the identical total order — sd_micro is the house round-4→micro
    // map (order-preserving, the exact conversion the LUT already
    // emits), centroid_id ∈ [0, idBound) by the codebook filter
    // (_id % centroidEvery = 0 ∧ _id div centroidEvery < codebookCap ⇒
    // _id < idBound), and min(key) % idBound decodes the same
    // smallest-id tie-break — and min(long) is a HashAggregate that
    // streams.
    val idBound = centroidEvery.toLong * codebookCap
    val codes = slices(v, "id").join(broadcast(cs), Seq("j"))
      .withColumn("sk",
        d2micro(col("sv"), col("csv")) * lit(idBound) + col("centroid_id"))
      .groupBy(col("id"), col("j"))
      .agg((min(col("sk")) % lit(idBound)).as("code"))
    val q = queries.select(col(idCol).as("_id"), asDoubles(col(vecCol)).as("_v"))
    val lut = slices(q, "query_id").join(broadcast(cs), Seq("j"))
      .select(col("query_id"), col("j"), col("centroid_id").as("code"),
        d2micro(col("sv"), col("csv")).as("sd_micro"))
    codes.join(broadcast(lut), Seq("j", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("sd_micro")).as("adc_micro"))
  }

  /** Product-quantization ADC top-k (Jégou, Douze & Schmid, TPAMI 2011,
    * "Product Quantization for Nearest Neighbor Search") with its
    * quantization-quality audit. The vector is cut into `numSubspaces`
    * contiguous subvectors, each encoded as the id of its nearest
    * sub-codebook centroid, and a query's distance to a database vector
    * is approximated by the Asymmetric Distance Computation: the sum of
    * precomputed query→centroid subdistances looked up by code. This is
    * the memory-side scale path the IVF index ([[ivfTopK]]) doesn't
    * cover: an encoded vector is numSubspaces small ints instead of `dim`
    * floats (64 floats → 16 codes at the q153 setting), so the scan side
    * of ANN reads codes, never raw vectors. Sub-codebooks are the
    * training-free id-seeded subsample and every rank breaks ties by id.
    *
    * Beside the ADC top-k it reports, per query, the
    * Pearson correlation between the ADC and exact squared-L2 distance
    * FIELDS over the whole corpus (micro-unit BIGINT inputs, exact
    * DECIMAL(38,0) sufficient statistics in one pass, the
    * identical-operand IEEE finish of [[Stats.correlationMatrix]],
    * reported as corr_micro). Distance-field correlation — not top-k
    * recall — is the right lens here: on noise-dominated embeddings the
    * exact top-k itself is chance-level (measured: exact-L2 and cosine
    * top-5 on the test corpus agree with labels at ~4%), so a recall
    * gate would pin an arbitrary number, while field correlation
    * measures exactly what quantization is supposed to preserve.
    * `distortion_ok` gates every query's corr_micro ≥ `minCorrMicro`.
    */
  def pqDistortionAudit(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      numSubspaces: Int = 16, dim: Int = 64, centroidEvery: Int = 10,
      codebookCap: Int = 64, minCorrMicro: Long = 600000L): DataFrame = {
    val adc = pqAdcFrame(corpus, queries, idCol, vecCol,
      numSubspaces, dim, centroidEvery, codebookCap)
    val c = corpus.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v_c"))
    val q = queries.select(col(idCol).as("query_id"),
      asDoubles(col(vecCol)).as("v_q"))
    val exact = q.crossJoin(c)
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        d2micro(col("v_q"), col("v_c")).as("d2_micro"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val stats = adc.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("adc_micro").cast(d38)).as("sx"),
        sum(col("d2_micro").cast(d38)).as("sy"),
        sum(col("adc_micro").cast(d38) * col("d2_micro")).as("sxy"),
        sum(col("adc_micro").cast(d38) * col("adc_micro")).as("sxx"),
        sum(col("d2_micro").cast(d38) * col("d2_micro")).as("syy"))
    val corr = stats.select(col("query_id"),
      col("n").cast("long").as("n_scored"),
      when(expr("n * sxx - sx * sx") > 0 && expr("n * syy - sy * sy") > 0,
        floor(expr("cast(n * sxy - sx * sy as double)") /
          (sqrt(expr("cast(n * sxx - sx * sx as double)")) *
            sqrt(expr("cast(n * syy - sy * sy as double)"))) *
          lit(1000000.0) + lit(0.5)).cast("long"))
        .as("corr_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro"), col("id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(broadcast(corr), Seq("query_id"))
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        col("adc_micro"), col("n_scored"), col("corr_micro"),
        (col("corr_micro") >= minCorrMicro).as("distortion_ok"))
  }

  /** Matryoshka-truncation distortion audit (Kusupati et al., NeurIPS'22
    * MRL): can the FIRST k dims stand in for all of them? — the
    * storage-side ANN scale read beside q153's PQ: PQ shrinks bytes via
    * codebooks, prefix truncation shrinks them by just reading less.
    * Audited the q153 way: per (k, query) Pearson correlation between
    * the k-prefix squared-L2 distance field and the full-dimension one
    * (recall is chance-level on structureless test embeddings — field
    * correlation is what truncation must preserve). All distances are
    * round-4 micro-unit BIGINTs; sufficient statistics ride
    * DECIMAL(38,0) sums.
    *
    * On structureless (iid-component) embeddings the correlation scales
    * like sqrt(k/dim) — measured mins 0.14/0.29/0.53 for k=8/16/32 of 64
    * across sf0.001–0.1 — while an MRL-trained encoder concentrates
    * signal in the prefix and lands far higher. The per-k gates default
    * comfortably BELOW the structureless floor: they don't certify the
    * encoder, they catch a truncation BUG (misaligned slice, wrong
    * normalization), which lands near zero.
    *
    * Scale shape: |queries|·|corpus|·|ks| pair rows — the exact-baseline
    * audit shape (q25/q153 precedent), run on a bounded query sample;
    * the full distance is computed ONCE per pair and fanned out over the
    * broadcast k table.
    */
  def matryoshkaAudit(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      ks: Seq[Int] = Seq(8, 16, 32),
      minCorrMicroByK: Map[Int, Long] =
        Map(8 -> 100000L, 16 -> 200000L, 32 -> 450000L)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be positive")
    require(ks.forall(minCorrMicroByK.contains),
      s"every k in $ks needs a gate in minCorrMicroByK")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v_c"))
    val q = queries.select(col(idCol).as("query_id"),
      asDoubles(col(vecCol)).as("v_q"))
    val kdf = broadcast(
      ks.map(k => (k, minCorrMicroByK(k))).toDF("k", "min_corr_micro"))
    val pairs = q.crossJoin(c)
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"), col("v_q"), col("v_c"),
        d2micro(col("v_q"), col("v_c")).as("d2_full"))
      .crossJoin(kdf)
      .select(col("k"), col("min_corr_micro"), col("query_id"), col("id"),
        col("d2_full"),
        d2micro(slice(col("v_q"), lit(1), col("k")),
          slice(col("v_c"), lit(1), col("k"))).as("d2_trunc"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val st = pairs.groupBy(col("k"), col("min_corr_micro"), col("query_id"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("d2_trunc").cast(d38)).as("sx"),
        sum(col("d2_full").cast(d38)).as("sy"),
        sum(col("d2_trunc").cast(d38) * col("d2_full")).as("sxy"),
        sum(col("d2_trunc").cast(d38) * col("d2_trunc")).as("sxx"),
        sum(col("d2_full").cast(d38) * col("d2_full")).as("syy"))
    st.select(col("k").cast("long").as("k"), col("query_id"),
        col("n").cast("long").as("n_scored"),
        when(expr("n * sxx - sx * sx") > 0 && expr("n * syy - sy * sy") > 0,
          floor(expr("cast(n * sxy - sx * sy as double)") /
            (sqrt(expr("cast(n * sxx - sx * sx as double)")) *
              sqrt(expr("cast(n * syy - sy * sy as double)"))) *
            lit(1000000.0) + lit(0.5)).cast("long"))
          .as("corr_micro"), col("min_corr_micro"))
      .withColumn("trunc_ok", col("corr_micro") >= col("min_corr_micro"))
  }

  /** Int8 scalar-quantization distortion audit — the third storage-side
    * ANN read beside q153's PQ (codebooks) and q170's Matryoshka
    * truncation (prefix): per-dimension affine quantization to 8-bit
    * codes, the cheapest 4× compression every vector store ships first.
    * Audited the q153/q170 way: per-query Pearson correlation between the
    * exact squared-L2 distance field and the one against DEQUANTIZED
    * corpus vectors (queries stay exact — the ADC convention).
    *
    * Everything is exact integer arithmetic on round-4 e4 components:
    * per-dim [min, max] over the corpus (the codebook — 2 BIGINTs per
    * dimension), code = ((v−min)·255) div (max−min), dequant =
    * min + (code·(max−min)) div 255; distances are BIGINT e8 sums, the
    * Pearson corr rides DECIMAL(38,0) sufficient statistics, and the gate
    * defaults high (SQ8 is near-lossless on smooth embeddings — corr
    * lands ≥ ~0.999; a wrong-dimension codebook or a clamping bug lands
    * far below).
    *
    * Scale shape: the codebook is ONE per-dim aggregate folded to a
    * single broadcast row (dim-sized, never corpus-sized); quantization
    * is a per-row zip_with against that row; the pair stream is the
    * bounded-query-sample audit shape (q153 precedent).
    */
  def sq8DistortionAudit(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      minCorrMicro: Long = 990000L): DataFrame = {
    val e4 = (v: Column) => transform(asDoubles(v),
      x => floor(round(x, 4) * lit(10000.0) + lit(0.5)).cast("long"))
    val c = corpus.select(col(idCol).as("id"), e4(col(vecCol)).as("v_c"))
    // The codebook: per-dim min/max over the corpus, assembled into ONE
    // row of two dim-length arrays (d-keyed agg → global array_sort fold;
    // both exchanges move at most |dims| rows).
    val dimStats = corpus
      .select(posexplode(e4(col(vecCol))).as(Seq("d", "v")))
      .groupBy(col("d")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(array_sort(collect_list(struct(col("d"), col("mn"), col("mx"))))
        .as("cb"))
      .select(expr("transform(cb, x -> x.mn)").as("mn_arr"),
        expr("transform(cb, x -> x.mx)").as("mx_arr"))
    val quantized = c.crossJoin(broadcast(dimStats))
      .withColumn("rng", expr("zip_with(mn_arr, mx_arr, (a, b) -> struct(a AS mn, b AS mx))"))
      .withColumn("vq", expr(
        """zip_with(v_c, rng, (v, r) -> CASE WHEN r.mx > r.mn
          |  THEN r.mn + ((((v - r.mn) * 255) div (r.mx - r.mn)) * (r.mx - r.mn)) div 255
          |  ELSE r.mn END)""".stripMargin))
      .select(col("id"), col("v_c"), col("vq"))
    val q = queries.select(col(idCol).as("query_id"), e4(col(vecCol)).as("v_q"))
    def d2e8(a: String, b: String): Column = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, t) -> acc + t)")
    val pairs = q.crossJoin(quantized)
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        d2e8("v_q", "v_c").as("d2_exact"), d2e8("v_q", "vq").as("d2_sq8"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    pairs.groupBy(col("query_id"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("d2_sq8").cast(d38)).as("sx"),
        sum(col("d2_exact").cast(d38)).as("sy"),
        sum(col("d2_sq8").cast(d38) * col("d2_exact")).as("sxy"),
        sum(col("d2_sq8").cast(d38) * col("d2_sq8")).as("sxx"),
        sum(col("d2_exact").cast(d38) * col("d2_exact")).as("syy"))
      .select(col("query_id"), col("n").cast("long").as("n_scored"),
        when(expr("n * sxx - sx * sx") > 0 && expr("n * syy - sy * sy") > 0,
          floor(expr("cast(n * sxy - sx * sy as double)") /
            (sqrt(expr("cast(n * sxx - sx * sx as double)")) *
              sqrt(expr("cast(n * syy - sy * sy as double)"))) *
            lit(1000000.0) + lit(0.5)).cast("long"))
          .as("corr_micro"),
        lit(minCorrMicro).as("min_corr_micro"))
      .withColumn("sq8_ok", col("corr_micro") >= col("min_corr_micro"))
  }
}
