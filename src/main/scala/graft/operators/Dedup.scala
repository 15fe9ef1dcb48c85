package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{CacheScope, DriverGuard}

/** Training-data deduplication family: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard — the operators a 100 TB text-corpus pipeline needs in front of
  * model training.
  *
  * Scale design:
  *  - exact dedup is one hash-aggregate on the normalized text (or better,
  *    on a fingerprint column — see TextAnalysis.fingerprint — so the
  *    shuffle moves 16-byte digests, not document bodies).
  *  - MinHash+LSH avoids the O(n²) pair space: signatures are computed in
  *    one narrow pass, banding expands each doc into `bands` rows, and the
  *    shuffle groups only same-bucket docs. Candidate verification touches
  *    |candidates| pairs, not n².
  *  - everything is builtin higher-order functions — no UDF, full codegen.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: one survivor (min id) per identical text. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dup_count"))

  // ------------------------------------------------------------- shingles

  /** Whitespace tokens of a text column. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    * array column. Always stage tokenization into its own projection before
    * calling this: Catalyst inlines (not CSEs) the token expression into
    * every element_at inside the lambda, so shingling straight off
    * `split(text)` re-splits the text once per gram element — a 50×
    * slowdown observed at sf0.1.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    if (n <= 1) array_distinct(toks)
    else array_distinct(gramsFromTokens(toks, n))

  /** Word n-grams WITHOUT per-document dedup (every occurrence kept —
    * corpus frequency counting wants multiplicity; Jaccard wants the
    * distinct set, see [[shinglesFromTokens]]).
    */
  def gramsFromTokens(toks: Column, n: Int): Column = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    if (n == 1) toks
    else {
      // Guard: sequence(1, x) with x < 1 produces a DESCENDING sequence in
      // Spark, not an empty one — short docs must yield zero grams (the
      // descending sequence would hit ANSI element_at(toks, 0)).
      when(size(toks) < n, array().cast(ArrayType(StringType)))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
    }
  }

  /** Exact Jaccard similarity of two (distinct-element) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** Exact n-gram Jaccard near-dup detection as an inverted-index
    * set-similarity join: explode shingles, self-join on the shingle (one
    * shuffle), count shared shingles per pair, and derive
    * jac = shared / (|A| + |B| - shared). EXACT — same result as a nested
    * all-pairs array_intersect — but the work is proportional to the
    * number of co-occurring shingle instances, not n²·|shingles|: the
    * nested-loop form took 350s at sf0.1 where this shape takes seconds.
    * Pairs sharing zero shingles (jac = 0) never materialize at all.
    *
    * `blockCol` optionally restricts comparisons (e.g. same language);
    * pass a constant to compare across the whole corpus.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, n: Int, threshold: Double): DataFrame =
    cooccurrenceCounts(df, idCol, textCol, blockCol, n)
      .withColumn("jac", col("shared").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("shared")).cast(DoubleType))
      // coalesce blocks constraint propagation: a bare jac >= t filter
      // infers isnotnull(sz_a), which Catalyst pushes to the scan and
      // re-inlines as isnotnull(size(<entire shingle expression>)) — an
      // extra full shingle evaluation per row. jac is never null here.
      .filter(coalesce(col("jac") >= threshold, lit(false)))
      .select(col("id_a"), col("id_b"), col("jac"))

  /** n-gram CONTAINMENT near-dup pairs: cont(A→B) = |A∩B| / |A| — the
    * asymmetric cousin of Jaccard that catches a small document subsumed
    * by a larger one (quote inclusion, boilerplate wrapping), where the
    * union in Jaccard's denominator dilutes the signal to ~|A|/|B|. Pairs
    * stay canonical (id_a < id_b) with both directions reported; a pair
    * qualifies when EITHER direction clears the threshold. Same inverted-
    * index shape and cost as [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, n: Int, threshold: Double): DataFrame =
    cooccurrenceCounts(df, idCol, textCol, blockCol, n)
      .withColumn("cont_a", col("shared").cast(DoubleType) / col("sz_a").cast(DoubleType))
      .withColumn("cont_b", col("shared").cast(DoubleType) / col("sz_b").cast(DoubleType))
      // coalesce for the same constraint-propagation reason as the
      // Jaccard filter above; sz_* > 0 whenever a pair materializes, so
      // neither containment is null here.
      .filter(coalesce(greatest(col("cont_a"), col("cont_b")) >= threshold, lit(false)))
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))

  /** Cross-source contamination matrix: near-dup PAIR counts aggregated
    * to (source, source) cells — the feed-level view the per-pair stream
    * can't give. q133's vocabulary overlap says two feeds *sound* alike;
    * this says they *ship the same documents* (mirror detection, scraped
    * re-posts, a benchmark leaking into a crawl feed). Cells are
    * canonical (src_a ≤ src_b, within-source on the diagonal) and carry
    * an exact pair-density: pairs per POSSIBLE pair, ppb integral —
    * n_a·n_b cross, n·(n−1)/2 within (DECIMAL(38,0) products — doc
    * counts square past 2⁶³ at corpus scale).
    *
    * The threshold is integer milli-Jaccard cross-multiplied against the
    * shared/union counts (shared·1000 ≥ union·t), so no float exists
    * anywhere — the matrix is exact-integer end to end. Shape: the
    * inverted-index pair stream (work ∝ gram instances, never doc×doc),
    * two doc_id-keyed joins to attach sources, one |sources|²-bounded
    * aggregate, broadcast per-source counts.
    */
  def crossSourceContamination(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String, n: Int, thresholdMilli: Long): DataFrame = {
    require(thresholdMilli >= 1 && thresholdMilli <= 1000,
      s"thresholdMilli must be in [1, 1000], got $thresholdMilli")
    val pairs = cooccurrenceCounts(df, idCol, textCol, lit(1), n)
      .filter(col("shared") * 1000 >=
        (col("sz_a") + col("sz_b") - col("shared")) * thresholdMilli)
      .select(col("id_a"), col("id_b"))
    val src = df.select(col(idCol).as("doc_id"), col(sourceCol).as("src"))
    val cells = pairs
      .join(src.select(col("doc_id").as("id_a"), col("src").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("src").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val counts = df.groupBy(col(sourceCol).as("src"))
      .agg(count(lit(1)).as("nd"))
    cells
      .join(broadcast(counts.select(col("src").as("src_a"), col("nd").as("n_docs_a"))), "src_a")
      .join(broadcast(counts.select(col("src").as("src_b"), col("nd").as("n_docs_b"))), "src_b")
      .withColumn("possible_pairs",
        when(col("src_a") === col("src_b"),
          expr("CAST(n_docs_a AS DECIMAL(38,0)) * (n_docs_a - 1) div 2"))
          .otherwise(expr("CAST(n_docs_a AS DECIMAL(38,0)) * n_docs_b")))
      .withColumn("density_ppb", when(col("possible_pairs") > 0,
        expr("CAST((CAST(n_pairs AS DECIMAL(38,0)) * 1000000000) div possible_pairs AS BIGINT)")))
      // possible_pairs stays internal: as a DECIMAL it would widen the
      // output off the hash discipline, and as a BIGINT it overflows
      // exactly when doc counts square past 2⁶³ — density + doc counts
      // carry the same information safely.
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"), col("density_ppb"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---------------------------------------------- exact substring dedup

  /** Exact duplicated-substring statistics — the suffix-array dedup family
    * member (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"), realized sort/join-style: find every maximal token
    * span whose length-`k` grams all appear verbatim in at least one OTHER
    * document, and report per-document coverage.
    *
    * Shape (all work ∝ gram instances, never doc × doc):
    *  1. stream every k-token gram as a 64-bit hash with its start
    *     position (tokens staged into their own projection first — see
    *     [[shinglesFromTokens]]'s inlining note);
    *  2. one hash-aggregate per gram keeps the min/max owning doc — a
    *     gram is cross-document iff min != max, no countDistinct
    *     expansion, map-side partial aggregation applies;
    *  3. inverted-index join back to the position stream (shuffle keyed
    *     on the gram hash; the duplicated-gram side is the small one and
    *     broadcasts under AQE);
    *  4. per-doc merge of the covered [pos, pos+k) intervals — a
    *     doc-partitioned window over positions, bounded by document
    *     length; uniform interval width makes "new span starts here" a
    *     single lag comparison (pos - prev > k), no running-max frame.
    *
    * Returns one row per document: `n_tokens`, `n_dup_spans`,
    * `dup_tokens` (positions covered by some cross-document span),
    * `dup_frac`. Zero rows mean "clean document"; a removal policy (drop
    * spans, or drop docs above a dup_frac threshold) reads directly off
    * the stats. Gram identity is a 64-bit hash: at 2^64 a corpus-scale
    * collision is ~1e-11-likely, the standard shingle-hash trade.
    */
  def duplicateSpanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast(LongType).as("n_tokens"))
    // (doc, pos, gram-hash) stream; consumed by the frequency aggregate
    // AND the join back, hence cached.
    val gramStream = CacheScope.cached(
      toks.select(col("doc_id"), posexplode(gramsFromTokens(col("toks"), k)))
        .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("gh")))
    val dupGrams = gramStream.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gh"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = gramStream.join(dupGrams, Seq("gh"))
      .withColumn("prev", lag(col("pos"), 1).over(wDoc))
      .withColumn("new_span",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id")) // doc-partitioning satisfies this grouping — no new shuffle
      .agg(min(col("pos")).as("s"), max(col("pos")).as("mx"))
      .withColumn("e", col("mx") + k)
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum((col("e") - col("s")).cast(LongType)).as("dup_tokens"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac", round(col("dup_tokens") / col("n_tokens"), 4))
  }

  /** The REWRITE half of exact substring dedup: emit each document with
    * its cross-document duplicated spans REMOVED, keeping one canonical
    * copy corpus-wide — the min-doc_id owner of a duplicated gram retains
    * its text; every other document drops the tokens that gram covers
    * (the "keep first occurrence" policy of suffix-array dedup, with
    * min-id as the deterministic notion of "first").
    *
    * Scale shape extends [[duplicateSpanStats]] steps 1-3 (gram-hash
    * stream, min/max owner aggregate, inverted-index join) with:
    *  4. covered-position expansion — each non-owner dup gram start
    *     explodes to its k positions, then a (doc, pos) distinct: work is
    *     ∝ duplicated positions × k, never corpus size × k;
    *  5. a token-level LEFT ANTI equi-join on (doc, pos) — no interval
    *     non-equi join, so it hash-dispatches instead of nested-looping;
    *  6. per-doc reassembly: sort-free collect_list of (pos, token)
    *     structs, array_sort, concat — one doc-keyed aggregate.
    *
    * Returns doc_id, n_tokens, kept_tokens, clean_text ('' when the whole
    * document was duplicated elsewhere).
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast(LongType).as("n_tokens"))
    val gramStream = CacheScope.cached(
      toks.select(col("doc_id"), posexplode(gramsFromTokens(col("toks"), k)))
        .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("gh")))
    val dupOwn = gramStream.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gh"), col("mn"))
    val covered = gramStream.join(dupOwn, Seq("gh"))
      .filter(col("doc_id") =!= col("mn")) // the min owner keeps its copy
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val kept = toks.select(col("doc_id"), posexplode(col("toks")))
      .withColumnRenamed("col", "tok")
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Incremental (delta) near-dup gate: score each INCOMING document
    * against the EXISTING corpus and flag it when its best-match
    * containment (|shared distinct n-grams| / |its own grams|) clears the
    * threshold — the L4 "dedup against the target" contract lifted from
    * exact PK equality to near-duplicate text, i.e. the decision an
    * ingest pipeline makes per batch rather than re-deduplicating the
    * whole corpus.
    *
    * Scale shape: asymmetric inverted-index join — batch grams ⋈ corpus
    * gram postings on the 64-bit gram hash. Work is ∝ co-occurring gram
    * instances touching the BATCH, never |corpus|² and never
    * batch × corpus; the small batch side broadcasts under AQE. At 100 TB
    * the corpus postings are a maintained index table written at ingest
    * (gram-hash → doc), so the per-batch cost doesn't even rescan the
    * corpus — here they're derived inline from the text.
    *
    * Returns one row per batch doc: best_match (null when nothing
    * shares a gram), shared, sz_batch, containment, rejected. Best match
    * ties break on the smaller corpus id — deterministic.
    */
  def containmentAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double): DataFrame =
    containmentAgainstPostings(batch,
      gramPostings(corpus, idCol, textCol, n), idCol, textCol, n, threshold)

  /** Corpus gram postings (corpus_id, gh) — the ingest-time index
    * [[containmentAgainstCorpus]]'s scale note promises. Write this once
    * per ingest cycle (append the accepted batch's own postings after
    * gating) and subsequent delta gates join against the INDEX —
    * 16 bytes a row, bucketable on `gh` — instead of re-tokenizing the
    * corpus text every batch.
    */
  def gramPostings(corpus: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    corpus.select(col(idCol).as("corpus_id"), tokens(col(textCol)).as("toks"))
      .select(col("corpus_id"), explode(shinglesFromTokens(col("toks"), n)).as("g"))
      .select(col("corpus_id"), xxhash64(col("g")).as("gh"))

  /** [[containmentAgainstCorpus]] against a pre-built postings frame
    * (from [[gramPostings]], typically read back from the maintained
    * index table) — the steady-state ingest path.
    */
  def containmentAgainstPostings(batch: DataFrame, postings: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = CacheScope.cached(
      batch.select(col(idCol).as("batch_id"), tokens(col(textCol)).as("toks"))
        .select(col("batch_id"), shinglesFromTokens(col("toks"), n).as("sh"))
        .withColumn("sz_batch", size(col("sh")).cast(LongType)))
    val bg = b.select(col("batch_id"), explode(col("sh")).as("g"))
      .select(col("batch_id"), xxhash64(col("g")).as("gh"))
    // Distinct gram sets on both sides ⇒ the co-occurrence count IS the
    // intersection size.
    val shared = bg.join(postings, Seq("gh"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("shared"))
    val w = Window.partitionBy(col("batch_id"))
      .orderBy(col("shared").desc, col("corpus_id"))
    val best = shared.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("batch_id"), col("corpus_id").as("best_match"), col("shared"))
    b.select(col("batch_id"), col("sz_batch"))
      .join(best, Seq("batch_id"), "left")
      .select(col("batch_id"), col("best_match"),
        coalesce(col("shared"), lit(0L)).as("shared"), col("sz_batch"))
      // A doc too short to carry a single n-gram has NO containment
      // evidence: containment is NULL and the gate does not reject (a
      // bare division would be 0/0 — an ANSI-mode runtime error).
      .withColumn("containment",
        when(col("sz_batch") > 0,
          round(col("shared").cast(DoubleType) / col("sz_batch"), 6)))
      .withColumn("rejected",
        when(col("sz_batch") > 0,
          col("shared").cast(DoubleType) / col("sz_batch") >= threshold)
          .otherwise(lit(false)))
  }

  /** Shared inverted-index core of the exact set-similarity pairs: explode
    * shingles, self-join on the shingle (one shuffle), count shared
    * shingles per canonical (id_a < id_b) pair. Work is proportional to
    * co-occurring shingle instances, not n²·|shingles| (the nested-loop
    * all-pairs form took 350s at sf0.1 where this takes seconds); pairs
    * sharing zero shingles never materialize.
    */
  private def cooccurrenceCounts(df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, n: Int): DataFrame = {
    val withSh = df
      .select(col(idCol).as("id"), blockCol.as("block"),
        tokens(col(textCol)).as("toks"))
      .select(col("id"), col("block"), shinglesFromTokens(col("toks"), n).as("sh"))
      .withColumn("sz", size(col("sh")))
    // explode_outer + post-filter, NOT explode: plain explode makes
    // InferFiltersFromGenerate push a size(sh)>0 predicate down to the
    // scan, where it re-inlines (and re-evaluates) the whole shingle
    // expression per row. The isNotNull filter on the GENERATED attribute
    // cannot sink below the Generate.
    // Join on the 64-bit shingle hash, not the shingle STRING: same
    // intersection counts (shingles are distinct within a doc; a
    // cross-doc collision needs two distinct shingles agreeing on all 64
    // bits — ~1e-8 at a million distinct shingles) for a fraction of the
    // shuffle bytes.
    // Cache the EXPLODED, hashed frame (4 narrow columns — far smaller
    // than the shingle arrays): both self-join branches read it, so
    // tokenize → shingle → explode runs once, not once per branch (the
    // differing branch projections defeat ReusedExchange). It lives until
    // the caller's enclosing CacheScope.using ends, or for the session
    // outside one (clearCache() reclaims).
    // A constant non-null block (every current call site passes lit(1))
    // adds nothing to the join: both sides carry the identical value, so
    // the match set is the same with or without it. Dropping it narrows
    // the cached rows, the join key (one primitive long instead of
    // int+long), and every shuffled row. A foldable NULL block must keep
    // the key — null never equi-joins, so it means "no pairs at all".
    val blockExpr = org.apache.spark.sql.catalyst.graftbridge.ColumnBridge.expression(blockCol)
    val constBlock = blockExpr.foldable &&
      blockExpr.eval(org.apache.spark.sql.catalyst.InternalRow.empty) != null
    val exCols =
      (if (constBlock) Seq(col("id"), col("sz"))
       else Seq(col("id"), col("block"), col("sz"))) :+
        explode_outer(col("sh")).as("s")
    val ex = CacheScope.cached(withSh.select(exCols: _*)
      .filter(col("s").isNotNull)
      .withColumn("s", xxhash64(col("s"))))
    val joinKeys = if (constBlock) Seq("s") else Seq("block", "s")
    val a = ex.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a")
    val b = ex.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b")
    // sz_a/sz_b are functionally determined by (id_a, id_b): carrying them
    // as min() aggregates instead of grouping keys halves the bytes the
    // aggregate hash map compares per probe (the measured hot path —
    // ByteArrayMethods.arrayEquals) without changing any output row.
    a.join(b, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("sz_a")).as("sz_a"), min(col("sz_b")).as("sz_b"),
        count(lit(1)).as("shared"))
  }

  /** Pair-similarity SPECTRUM: the co-occurring pair mass bucketed by
    * exact-Jaccard decile — the read that JUSTIFIES a dedup threshold
    * before anyone picks one. A healthy corpus is bimodal (a large
    * incidental-overlap mode near zero, a duplicate mode near one, and a
    * gap between them — this fixture measures 11997 / 1 / 27 pairs in
    * deciles 0/8/9); any threshold inside the gap yields the same dedup,
    * and a corpus WITHOUT the gap is the warning that threshold tuning
    * will actually move results. Complements q141's band chooser (which
    * optimizes LSH for a FIXED threshold) and q184's the-curve-is-flat
    * reading of the same structure.
    *
    * Exact integer: jac_ppm = shared·10⁶ div (szA + szB − shared), decile
    * = min(jac_ppm div 10⁵, 9). Rides the inverted-index pair frame
    * ([[ngramJaccardPairs]]'s shape — work ∝ co-occurring shingle
    * instances, zero-overlap pairs never materialize), then one
    * decile-keyed roll-up (≤ 10 rows).
    */
  def similaritySpectrum(df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, n: Int): DataFrame =
    cooccurrenceCounts(df, idCol, textCol, blockCol, n)
      .select(
        expr("least((shared * 1000000) div (sz_a + sz_b - shared) div 100000, 9)")
          .as("decile"),
        expr("(shared * 1000000) div (sz_a + sz_b - shared)").as("jac_ppm"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("decile"))
      // Each pair contributes two exploded doc rows: count div 2 is the
      // exact pair count; min/max are unaffected by the duplication.
      .agg(expr("count(1) div 2").as("n_pairs"),
        countDistinct(col("id")).as("n_docs"),
        min(col("jac_ppm")).as("min_jac_ppm"),
        max(col("jac_ppm")).as("max_jac_ppm"))
      .orderBy(col("decile"))

  /** Cross-corpus contamination check: for every document in the EVAL
    * split, how many of its distinct n-gram shingles also occur anywhere
    * in the TRAIN split — the benchmark-leakage scan run before training.
    * Zero-overlap eval docs are kept (n_shared = 0): the report must
    * enumerate the clean docs, not just the contaminated ones.
    *
    * Scale shape: one exploded/hashed gram stream, split by the
    * predicate; the train side collapses to DISTINCT grams before the
    * semi-join, so the join is |eval grams| ⋈ |train vocabulary| keyed on
    * the 64-bit gram hash — never doc×doc. Collision risk is the q22
    * argument (~1e-8 at 1M distinct grams).
    */
  def crossCorpusContamination(df: DataFrame, idCol: String, textCol: String,
      evalPred: Column, n: Int): DataFrame = {
    val withSh = df
      .select(col(idCol).as("id"), evalPred.as("is_eval"),
        tokens(col(textCol)).as("toks"))
      .select(col("id"), col("is_eval"),
        shinglesFromTokens(col("toks"), n).as("sh"))
    // Cache the exploded hashed stream: both splits read it (the
    // differing filters defeat ReusedExchange), same rationale as
    // cooccurrenceCounts.
    val ex = CacheScope.cached(withSh
      .select(col("id"), col("is_eval"), explode_outer(col("sh")).as("g"))
      .filter(col("g").isNotNull)
      .withColumn("g", xxhash64(col("g"))))
    val trainVocab = ex.filter(!col("is_eval")).select(col("g")).distinct()
    val shared = ex.filter(col("is_eval"))
      .join(trainVocab, Seq("g"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    withSh.filter(col("is_eval"))
      .select(col("id"), size(col("sh")).cast("long").as("n_grams"))
      .join(shared, Seq("id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  // ------------------------------------------------------------- MinHash

  /** Large prime modulus for the universal-hash family h_i(x) = (a_i·x + b_i) mod P
    * (parameters live in [[graft.functions.MinHashSignature]]).
    */
  private val P = 2147483647L // 2^31 - 1 (Mersenne)

  /** k-min MinHash signature of a shingle array. Each shingle string is
    * hashed ONCE (`transform` pre-pass, reduced mod P so a·h + b stays
    * under 2^62 — no ANSI overflow); the k×n min-update loop runs in the
    * native codegen'd [[graft.functions.MinHashSignature]] expression —
    * the equivalent aggregate/zip_with fold is CodegenFallback and ran
    * interpreted in the per-document hot path.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.MinHashSignature.minhash_signature(
      transform(shingleCol, s => pmod(xxhash64(s), lit(P))), k)

  /** LSH banding: split the k-wide signature into `bands` bands of k/bands
    * rows and emit (id, band_idx, band_hash) — docs agreeing on ANY band
    * become candidates. With k=128, bands=32 (r=4): P(candidate | jac=0.8)
    * = 1-(1-0.8⁴)³² ≈ 1-1e-7, while random pairs (jac≈0.05) almost never
    * collide — near-perfect recall at ~0 false-candidate cost.
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String, bands: Int): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    // k = size(sig) is data-dependent here (unlike minhashNearDupPairs,
    // which knows k statically), so the bands-divides-k contract is
    // enforced at eval time: bands > k would make every slice() empty
    // (all docs collide into one bucket per band — quadratic candidate
    // blowup) and k % bands != 0 silently drops the signature tail.
    val k = size(col(sigCol))
    val w = when(k >= bands && pmod(k, lit(bands)) === 0, k / bands)
      .otherwise(raise_error(concat(
        lit(s"lshBands: bands=$bands must divide the signature width k="),
        k.cast("string"))).cast("double"))
    df.select(col(idCol).as("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)), b =>
        hash(slice(col(sigCol), b * w + 1, w), b))))
      .toDF("id", "band_idx", "band_hash")
  }

  /** Candidate pairs from LSH buckets: self-join on (band_idx, band_hash),
    * deduplicated across bands. The join shuffles on the bucket key only.
    */
  def lshCandidatePairs(bandsDf: DataFrame): DataFrame = {
    val a = bandsDf.select(col("id").as("id_a"), col("band_idx"), col("band_hash"))
    val b = bandsDf.select(col("id").as("id_b"), col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Full MinHash+LSH near-dup pipeline with exact-Jaccard verification of
    * candidates: signature → bands → bucket join → verify. Returns
    * (id_a, id_b, jac ≥ threshold). Approximation can only LOSE pairs
    * (never invent them); with the default k=128/bands=32 recall at
    * jac≥0.5 is ≈ 1-(1-0.5⁴)³² ≈ 0.87 and at jac≥0.9, ≈ 1-5e-6.
    */
  /** [[minhashNearDupPairs]] parameterized by a [[CurationConfig]]: the
    * corpus-scale near-dup operator consuming the q141 chooser's measured
    * (k, bands) pick — via [[CurationConfig.pinned]] or a fresh
    * [[CurationConfig.fromAudit]] — instead of hand-typed constants.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      config: CurationConfig): DataFrame =
    minhashNearDupPairs(df, idCol, textCol, config.n,
      config.jaccardThreshold, config.minhashK, config.bands)

  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, k: Int = 128, bands: Int = 32): DataFrame = {
    // bands > k would make every slice() empty (all docs collide into one
    // bucket per band — quadratic candidate blowup); k % bands != 0 would
    // silently drop the signature tail and weaken the recall math above.
    require(bands <= k && k % bands == 0,
      s"bands ($bands) must divide the signature width k ($k)")
    val withSh = CacheScope.cached(df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), shinglesFromTokens(col("toks"), n).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k)))
      // Referenced three times below (band generation + both verification
      // joins); cached so the tokenize→shingle→k-hash signature work — the
      // most expensive per-document stage — runs once, not three times.
    val candidates = lshCandidatePairs(lshBands(withSh, "id", "sig", bands))
    candidates
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** LSH banding recall/precision audit — the dedup counterpart of the
    * ANN recall gates: for each band configuration over ONE k-wide
    * MinHash signature, how many of the TRUE n-gram-Jaccard pairs does
    * banding recover, and at what candidate cost? The S-curve made
    * measurable: more bands (narrower rows-per-band) buys recall with
    * more candidates; the audit reports, per config, exact BIGINT
    * `n_candidates`, `n_true`, `n_recovered`, and ppm recall/precision.
    *
    * Candidates here key on the band's VALUE (the raw signature slice),
    * not a hash of it — a bucket-hash collision would ADD a
    * candidate the replaying oracle lacks; value-keying makes the pair
    * set an exact function of the signatures. Production paths
    * ([[minhashNearDupPairs]]) keep the hashed key: at audit time
    * exactness wins, at 100 TB the fixed-width key wins.
    *
    * `tokenHasher` defaults to the production xxhash64; pass
    * [[auditableTokenHash]] for engine-replayable signatures. Docs with
    * zero shingles are excluded (they have no Jaccard pairs either — an
    * all-sentinel signature would otherwise pair every empty doc with
    * every other in every band).
    *
    * Scale shape: signature pass is one cached projection; each config
    * is a bucket equi-join (work ∝ colliding-pair count, the quantity
    * under audit); the true-pair set is the inverted-index join of
    * [[ngramJaccardPairs]]; per-config results are one-row aggregates
    * unioned at the end. Everything after the joins is |configs|-sized.
    */
  def lshBandAudit(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, k: Int, bandConfigs: Seq[Int],
      tokenHasher: Column => Column = xxhash64(_)): DataFrame = {
    require(bandConfigs.nonEmpty, "at least one band configuration")
    bandConfigs.foreach(b => require(b >= 1 && b <= k && k % b == 0,
      s"bands ($b) must divide the signature width k ($k)"))
    // Filter on the TOKEN count, not size(sh) > 0: the two are equivalent
    // (n tokens yield ≥1 distinct n-gram iff there are ≥ n of them), but a
    // predicate over the `sh` alias would re-inline the whole shingle
    // construction into the filter under projection collapse — measured
    // 3× the signature stage's cost at sf0.1.
    val withSig = CacheScope.cached(df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("id"), shinglesFromTokens(col("toks"), n).as("sh"))
      .withColumn("sig", minhashSignatureWith(col("sh"), k, tokenHasher))
      .select(col("id"), col("sig")))
    val truePairs = CacheScope.cached(
      ngramJaccardPairs(df, idCol, textCol, lit(1), n, threshold)
        .select(col("id_a"), col("id_b")))
    val nTrue = truePairs.agg(count(lit(1)).as("n_true"))
    // ALL configs ride one exploded band table → ONE bucket join, ONE
    // distinct, ONE aggregation keyed by (bands, ...) — not a join per
    // config — so the cached signature frame is scanned once and the
    // shuffle count is config-count-independent.
    // The per-config band slots are a LITERAL descriptor list exploded
    // per document, and the band key is the raw signature slice
    // (array<long>): the former per-row nested transform() building a
    // comma-joined string ran as an interpreted higher-order closure
    // (CodegenFallback) with one string build per band row — the explode
    // + slice() form is whole-stage codegen end to end, and array
    // equality keys the identical candidate set (the rendered string was
    // injective on the slice values).
    val descs = bandConfigs.flatMap { b =>
      val w = k / b
      (0 until b).map(i => (b.toLong, i, i * w + 1, w))
    }
    val bandtab = withSig
      .select(col("id"), col("sig"), explode(typedLit(descs)).as("d"))
      .select(col("id"), col("d._1").as("bands"), col("d._2").as("band_idx"),
        slice(col("sig"), col("d._3"), col("d._4")).as("band_key"))
    val cand = bandtab
      .select(col("bands"), col("band_idx"), col("band_key"), col("id").as("id_a"))
      .join(bandtab.select(col("bands"), col("band_idx"), col("band_key"),
        col("id").as("id_b")), Seq("bands", "band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("bands"), col("id_a"), col("id_b")).distinct()
    val agged = cand
      .join(truePairs.withColumn("hit", lit(1L)), Seq("id_a", "id_b"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(col("hit")), lit(0L)).as("n_recovered"))
    // A config with ZERO candidates must still report its row: seed from
    // the literal config list, not from the (possibly empty) groups.
    val confs = df.sparkSession.range(1)
      .select(explode(array(bandConfigs.map(b => lit(b.toLong)): _*)).as("bands"))
      .withColumn("rows_per_band", expr(s"$k div bands"))
    confs.join(agged, Seq("bands"), "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_recovered"), lit(0L)).as("n_recovered"))
      .crossJoin(broadcast(nTrue))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_true"), col("n_recovered"),
        when(col("n_true") > 0,
          expr("(n_recovered * 1000000) div n_true")).as("recall_ppm"),
        when(col("n_candidates") > 0,
          expr("(n_recovered * 1000000) div n_candidates")).as("precision_ppm"))
      .orderBy(col("bands"))
  }

  /** Pick the production band configuration from an [[lshBandAudit]]
    * frame: the CHEAPEST config (fewest candidate pairs — candidate count
    * IS the cost of the downstream verify join) whose measured recall
    * meets the floor; ties break toward fewer bands (cheaper banding
    * explode). Closes the audit→production loop: q97/CurationStream's
    * hard-coded (k, bands) becomes a measured choice re-derivable from
    * any corpus sample. Pure DataFrame over the |configs|-sized audit
    * output — zero extra scans of the corpus. Empty result = NO audited
    * config meets the floor (widen bands or raise k; silently falling
    * back to "best effort" would ship an under-recall dedup).
    */
  def recommendBandConfig(audit: DataFrame, recallFloorPpm: Long): DataFrame =
    audit.filter(col("recall_ppm") >= recallFloorPpm)
      .orderBy(col("n_candidates"), col("bands"))
      .limit(1)

  /** [[minhashSignature]] with a pluggable per-shingle hash (the
    * [[simhash64]] pattern): production keeps xxhash64, audits pass
    * [[auditableTokenHash]] so any SQL engine can replay the signature.
    */
  def minhashSignatureWith(shingleCol: Column, k: Int,
      tokenHasher: Column => Column): Column =
    graft.functions.MinHashSignature.minhash_signature(
      transform(shingleCol, s => pmod(tokenHasher(s), lit(P))), k)

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash (Charikar) of a token array, packed into a long: each
    * bit is the sign of Σ_tokens (±1 by that bit of xxhash64(token)).
    */
  def simhash64(tokensCol: Column): Column = simhash64(tokensCol, t => xxhash64(t))

  /** SimHash with a pluggable token-hash. Hash each token ONCE (transform
    * pre-pass); the 64×n sign-sum loop runs in the native codegen'd
    * SimHash64 expression (the higher-order fold equivalent is
    * CodegenFallback — interpreted per document).
    */
  def simhash64(tokensCol: Column, tokenHasher: Column => Column): Column =
    graft.functions.SimHash64.simhash64(transform(tokensCol, tokenHasher))

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed base-16. Slower than xxhash64 (use that in production paths)
    * but reproducible in any SQL engine — the auditable variant that lets
    * an external oracle recompute SimHash signatures bit-for-bit.
    */
  def auditableTokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Score-driven survivor selection over [[duplicateClusters]]' output:
    * keep the HIGHEST-scoring member of each duplicate cluster (score
    * ties to the smaller id) instead of the structural min-id survivor —
    * the production policy layer: min-id is an artifact of ingestion
    * order, while "keep the longest / highest-quality member" keeps the
    * superset document a containment-duplicate family collapsed from.
    *
    * `clusters` is duplicateClusters' (id, cluster_root, ...) frame;
    * `scores` maps (id, score) with an integral score (token count,
    * quality milli-ratio — the caller picks the policy). One id-keyed
    * join and ONE per-cluster aggregate (max_by over a (score, −id)
    * ordering struct — no window, no second shuffle). Output, one row
    * per cluster: cluster_root, n_members, survivor_id, survivor_score,
    * and `moved` — whether the policy overrode the min-id default (the
    * rate worth monitoring: a high moved-rate means ingestion order
    * anti-correlates with quality).
    */
  def survivorByScore(clusters: DataFrame, scores: DataFrame): DataFrame =
    clusters.select(col("id"), col("cluster_root"))
      .join(scores.select(col("id"), col("score")), Seq("id"))
      .groupBy(col("cluster_root"))
      .agg(count(lit(1)).as("n_members"),
        max_by(struct(col("id"), col("score")),
          struct(col("score"), (-col("id")).as("neg_id"))).as("s"))
      .select(col("cluster_root"), col("n_members"),
        col("s.id").as("survivor_id"), col("s.score").as("survivor_score"),
        (col("s.id") =!= col("cluster_root")).as("moved"))

  /** Hamming distance between two packed 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 16-bit chunks (a pair within Hamming
    * distance ≤ 3 of a 64-bit hash must agree on ≥1 of 4 chunks — the
    * pigeonhole trick from Manku et al., WWW'07), then verify exact
    * Hamming distance.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int,
      tokenHasher: Column => Column = t => xxhash64(t)): DataFrame =
    // The signature frame is cached INSIDE hammingNearDupPairs (both
    // chunk-join branches read it — without the cache each branch re-runs
    // tokenize + per-token hash + the 64-bit sign sum).
    hammingNearDupPairs(
      df.select(col(idCol).as("id"),
        simhash64(tokens(col(textCol)), tokenHasher).as("sim")),
      "id", col("sim"), maxHamming)

  /** Generic Hamming-ball near-dup pairs over ANY packed-bits hash column
    * (SimHash, perceptual image dHash, audio fingerprints): block on
    * `chunks` equal-width bit chunks — a pair within Hamming ≤ chunks−1
    * must agree on ≥1 chunk (pigeonhole; Manku et al., WWW'07) — then
    * verify exact `bit_count(xor)`. `maxHamming` is capped at chunks−1:
    * a larger radius would need more chunks, and silently losing pairs
    * past the guarantee is the bug this require prevents.
    *
    * Scale shape: |df|×chunks exploded rows, an equi-join on
    * (chunk_idx, chunk_val) whose collision count IS the candidate cost,
    * exact verification on the colliding pairs only — never doc×doc.
    * The (id, hash) frame is CACHED (until the caller's enclosing
    * `CacheScope.using` ends, else for the session): both self-join
    * branches read it, and the hash is typically the expensive part —
    * a media decode or a full tokenize — that must not run twice per
    * input.
    */
  def hammingNearDupPairs(df: DataFrame, idCol: String, hashCol: Column,
      maxHamming: Int, chunks: Int = 4, chunkBits: Int = 16): DataFrame = {
    require(chunks >= 2 && chunkBits >= 1 && chunks * chunkBits <= 64,
      s"chunks ($chunks) × chunkBits ($chunkBits) must pack into 64 bits")
    require(maxHamming >= 0 && maxHamming <= chunks - 1,
      s"maxHamming ($maxHamming) beyond the $chunks-chunk pigeonhole " +
        "guarantee (<= chunks-1) would silently lose pairs")
    val mask = (1L << chunkBits) - 1
    val chunked = CacheScope.cached(df.select(col(idCol).as("id"), hashCol.as("h")))
      .select(col("id"), col("h"), posexplode(
        array((0 until chunks).map(c =>
          shiftright(col("h"), c * chunkBits).bitwiseAND(mask)): _*)))
      .toDF("id", "h", "chunk_idx", "chunk_val")
    val a = chunked.select(col("id").as("id_a"), col("h").as("h_a"),
      col("chunk_idx"), col("chunk_val"))
    val b = chunked.select(col("id").as("id_b"), col("h").as("h_b"),
      col("chunk_idx"), col("chunk_val"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      // Verify BEFORE deduplicating: bit_count(xor) is one codegen'd
      // instruction pair per candidate, while distinct() is a shuffle of
      // every chunk-collision row. Skewed chunk values (near-constant
      // fingerprint regions) make collisions vastly outnumber true
      // pairs, so filtering first shrinks the distinct exchange to the
      // surviving pair set. hamming is functionally dependent on
      // (id_a, id_b), so distinct over the 3 columns is the same pair
      // set as the former hash-distinct-then-filter.
      .withColumn("hamming", hamming64(col("h_a"), col("h_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming")).distinct()
  }

  // ------------------------------------------- duplicate clusters

  /** Resolve near-dup PAIRS into duplicate CLUSTERS (connected components)
    * and elect one survivor per cluster — the final step of corpus dedup:
    * a↔b and b↔c must collapse to ONE kept document, which pairwise
    * filtering alone can't decide.
    *
    * Two paths, chosen by measured edge count — the BroadcastHashJoin
    * philosophy applied to connected components:
    *  - edge set ≤ `driverMaxEdges` (default 2M ≈ tens of MB): collect the
    *    PAIRS (never the corpus — the duplicate-pair population is a tiny
    *    fraction of even a 100 TB corpus) and run union-find on the
    *    driver. One job instead of ~3 jobs × diameter iterations; the
    *    per-iteration scheduling overhead dominated end-to-end latency.
    *  - larger: distributed large-star/small-star contraction (O(log n)
    *    rounds, NOT diameter-bounded), `maxIters`-bounded, lineage
    *    severed per round.
    * Both paths produce identical labels (min id per component), over
    * exactly the `ids` membership: pairs touching ids OUTSIDE `ids` are
    * dropped first, so clustering a filtered subset never merges two kept
    * ids through a ghost node that was filtered out (nor elects one as a
    * cluster root).
    */
  def duplicateClusters(ids: DataFrame, idCol: String,
      pairs: DataFrame, maxIters: Int = 25,
      driverMaxEdges: Int = 2 * 1000 * 1000): DataFrame = {
    val spark = ids.sparkSession
    // Membership restriction BEFORE collecting/iterating (see scaladoc).
    val keep = ids.select(col(idCol).as("id"))
    val memberPairs = pairs
      .join(keep.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(keep.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
    // ONE guarded pass decides the path AND (in the common case)
    // delivers the pair set (DriverGuard).
    val guarded = DriverGuard.collectUpTo(
      memberPairs.select(col("id_a"), col("id_b")), driverMaxEdges)
    val smallPath = guarded.isDefined
    val labels: DataFrame = guarded match {
      case Some(edges) =>
        val idType = pairs.schema("id_a").dataType
        val roots = unionFindMinRoots(edges.iterator.map(r => (r.get(0), r.get(1))))
        spark.createDataFrame(
          spark.sparkContext.parallelize(roots.toSeq.map { case (id, r) =>
            org.apache.spark.sql.Row(id, r) }, 1),
          StructType(Seq(StructField("id", idType), StructField("root", idType))))
      case None =>
        // No symmetrize/cache needed: the star contraction canonicalizes
        // to (hi, lo) pairs and localCheckpoints them immediately, so the
        // pair-generation plan executes exactly once.
        distributedConnectedComponents(
          memberPairs.select(col("id_a").as("src"), col("id_b").as("dst")),
          maxIters)
    }
    // On the union-find path labels is ≤ driverMaxEdges·2 rows by
    // construction — broadcast the anti-join membership probe instead of
    // shuffling all of `ids`. On the distributed path the label set is
    // unbounded (that's WHY it didn't fit the driver) — forcing a
    // broadcast there would re-collect it and defeat the guard.
    val labelProbe =
      if (smallPath) broadcast(labels.select("id")) else labels.select("id")
    val untouched = ids.select(col(idCol).as("id"))
      .join(labelProbe, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("root"))
    labels.unionByName(untouched)
      .withColumn("is_survivor", col("id") === col("root"))
      .withColumnRenamed("root", "cluster_root")
  }

  /** Driver-side union-find with path compression; roots are the MIN id of
    * each component (same labels as the distributed path / the SQL oracle).
    */
  private def unionFindMinRoots(pairs: Iterator[(Any, Any)]): Map[Any, Any] = {
    val ord: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
      case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
      case (x: Int, y: Int)       => java.lang.Integer.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => throw new IllegalArgumentException(
        s"unsupported id type for duplicateClusters: ${a.getClass}")
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Distributed connected components (the > driverMaxEdges path):
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm). Each round rewires edges toward per-neighborhood minima;
    * the edge set converges to a STAR FOREST whose centers are the
    * component minima in O(log n) rounds — unlike one-hop min-label
    * propagation, whose round count is the component DIAMETER (a 10k-long
    * near-dup chain, common in templated web corpora, needs 10k rounds of
    * propagation but ~14 star rounds).
    *
    * Edges are canonicalized (hi > lo); each round is two groupBy+join
    * passes over the (shrinking) edge set, localCheckpoint-severed so
    * planning time stays constant. Convergence = edge-set fixpoint
    * (count match + anti-join emptiness), then the star-forest shape is
    * VERIFIED (one distinct lo per hi, no lo also a hi) before labels are
    * emitted — a silently-unconverged forest cannot mis-label.
    */
  private def distributedConnectedComponents(edges: DataFrame, maxIters: Int): DataFrame = {
    // Canonical undirected edge (hi, lo), self-loops dropped; input
    // orientation is irrelevant (greatest/least canonicalize either way).
    var e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)

    // large-star: every neighbor v > u re-points to m = min(N(u) ∪ {u}).
    // Output (v, m) is already canonical: v > u >= m.
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }

    // small-star: each node's SMALLER neighbors (the lo side of canonical
    // edges keyed at hi) plus hi itself re-point to their minimum.
    def smallStar(cur: DataFrame): DataFrame = {
      val mins = cur.groupBy("hi").agg(min(col("lo")).as("m"))
      val relinked = cur.join(mins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
      relinked.union(mins.select(col("hi"), col("m").as("lo"))).distinct()
    }

    var converged = false
    var iter = 0
    var count = e.count()
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val nextCount = next.count()
      // Fixpoint test on DISTINCT sets: equal size + no edge of `next`
      // outside `e` ⟺ set equality. The anti-join runs on the contracted
      // (star-forest-sized) frame, not the raw pair set.
      converged = nextCount == count &&
        next.join(e, Seq("hi", "lo"), "left_anti").limit(1).count() == 0
      e = next
      count = nextCount
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge within $maxIters star rounds — " +
        "raise maxIters")
    // Defense in depth: star-forest shape check. Violations mean a bug in
    // the contraction (or a non-total id ordering), which must fail loudly
    // rather than emit plausible-but-wrong cluster labels.
    val multiRoot = e.groupBy("hi").agg(countDistinct(col("lo")).as("n"))
      .filter(col("n") > 1).limit(1).count()
    val loAlsoHi = e.select(col("lo")).distinct()
      .join(e.select(col("hi")).distinct(), col("lo") === col("hi"), "left_semi")
      .limit(1).count()
    require(multiRoot == 0 && loAlsoHi == 0,
      "star-forest invariant violated after convergence")
    e.select(col("hi").as("id"), col("lo").as("root"))
      .unionByName(e.select(col("lo").as("id"), col("lo").as("root")).distinct())
  }

  // ------------------------------------------- embedding near-duplicates

  /** Embedding cosine near-dup pairs, exact all-pairs: every (id_a < id_b)
    * pair whose cosine similarity is ≥ `threshold`.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // Normalize each vector ONCE so the per-pair work is a single dot
    // product instead of dot + two norms (3× fewer flops on the O(n²) side).
    val v = df.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .select(col("id"), transform(col("v"), x => x / col("nrm")).as("v"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    // Filter DIRECTLY on the dot product, then recompute it only for the
    // survivors (a near-dup fraction of the n² pairs): exactly one dot
    // eval per pair plus ε. The previous shape — project cos then filter —
    // let Catalyst substitute the 64-term dot into a pre-projection
    // filter, evaluating it twice per pair; fixing THAT with a groupBy
    // barrier traded the double eval for a full O(n²)-row shuffle, which
    // dominated at sf0.1. This shape has neither.
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(dot(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(dot(col("v_a"), col("v_b")), 4).as("cos_sim"))
  }
}
