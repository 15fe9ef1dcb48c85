package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, Graphs, Relational, TextAnalysis}

/** Deduplication capability queries over the `documents` corpus. The corpus
  * plants ~25 near-duplicate pairs (3-gram Jaccard ≥ 0.9) in an otherwise
  * well-separated space (all other pairs < 0.1), so threshold 0.5 is far
  * from any data point on either side.
  */
object DedupQueries {

  /** DuckDB exact word-3-gram Jaccard pair query — the oracle for both the
    * exact operator (q22) and the MinHash+LSH pipeline (q23): with k=128 /
    * bands=32 the LSH miss probability at jac ≥ 0.9 is ≈ 5e-6, and the
    * corpus has no pairs in (0.1, 0.9), so approximate == exact here.
    */
  private val jaccardOracle =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
      |  list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s FROM toks),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, jac FROM pairs WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    // Exact dedup: hash-aggregate on the text, min-id survivor policy.
    QueryDef(
      "q21_dedup_exact",
      (spark, dir) =>
        Dedup.exactDedup(Tables.documents(spark, dir), "text", "doc_id")
          .orderBy(col("survivor_id")),
      Some("""SELECT text, MIN(doc_id) AS survivor_id, COUNT(*) AS dup_count
             |FROM documents GROUP BY text ORDER BY survivor_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Exact n-gram Jaccard near-dup pairs (the non-approximate baseline;
    // all-pairs within one block — test scale only, LSH is the scale path).
    QueryDef(
      "q22_ngram_jaccard",
      (spark, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(spark, dir),
            idCol = "doc_id", textCol = "text", blockCol = lit(1),
            n = 3, threshold = 0.5)
          .withColumn("jac", round(col("jac"), 6))
          .orderBy(col("id_a"), col("id_b")),
      Some(jaccardOracle),
    ),

    // ----------------------------------------------------------------
    // MinHash+LSH near-dup pipeline: one-pass 128-wide signatures, 32-band
    // bucketing, candidate verification by exact Jaccard. Same oracle as
    // q22 — see jaccardOracle note on recall.
    QueryDef(
      "q23_minhash_lsh",
      (spark, dir) =>
        Dedup.minhashNearDupPairs(Tables.documents(spark, dir),
            idCol = "doc_id", textCol = "text", n = 3, threshold = 0.5)
          .withColumn("jac", round(col("jac"), 6))
          .orderBy(col("id_a"), col("id_b")),
      Some(jaccardOracle),
    ),

    // ----------------------------------------------------------------
    // SimHash near-dup pairs: 64-bit signatures, 16-bit-chunk blocking
    // (pigeonhole guarantee for Hamming ≤ 3), exact Hamming verification.
    // Uses the auditable md5-based token hash (production paths keep
    // xxhash64) so the oracle can recompute every signature: per token
    // h = first 15 hex chars of md5 base-16 (60 bits; bits 60-63 are 0,
    // every token votes −1 there, so those signature bits are always 0),
    // then 60 per-bit majority votes, then exact all-pairs Hamming. The
    // blocking step loses nothing at maxHamming=3: ≤3 differing bits
    // across 4 chunks must leave ≥1 chunk equal (pigeonhole), so the
    // blocked pair set IS the exact pair set.
    QueryDef(
      "q24_simhash",
      (spark, dir) =>
        Dedup.simhashNearDupPairs(Tables.documents(spark, dir),
            idCol = "doc_id", textCol = "text", maxHamming = 3,
            tokenHasher = Dedup.auditableTokenHash)
          .orderBy(col("id_a"), col("id_b")),
      Some {
        val bitVotes = (0 until 60).map { i =>
          val b = 1L << i
          s"CASE WHEN SUM(CASE WHEN (h // ${b}) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${b} AS BIGINT) ELSE 0 END"
        }.mkString(" + ")
        s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents),
           |h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
           |sim AS (SELECT doc_id, $bitVotes AS sim FROM h GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    bit_count(xor(a.sim, b.sim)) AS hamming
           |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM pairs
           |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
      },
    ),

    // ----------------------------------------------------------------
    // Embedding cosine near-dup pairs, exact all-pairs baseline. Threshold
    // 0.45 sits ≥ 5e-4 from every data point, far beyond double-vs-double
    // engine noise.
    QueryDef(
      "q25_embed_neardup",
      (spark, dir) =>
        Dedup.embeddingNearDupPairs(Tables.embeddings(spark, dir),
            idCol = "vec_id", vecCol = "embedding", threshold = 0.45)
          .orderBy(col("id_a"), col("id_b")),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  list_cosine_similarity(a.v, b.v) AS c
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |SELECT id_a, id_b, ROUND(c, 4) AS cos_sim FROM p
             |WHERE c >= 0.45 ORDER BY id_a, id_b""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Edit-distance fuzzy matching: per-part count of same-brand parts
    // within Levenshtein distance 2 (typo-class variants). Brand blocking
    // + broadcast self-join; the probe side goes through spreadIfNarrow —
    // a small dimension table scans as one parquet split, and a broadcast
    // join inherits the probe side's partitioning, so an under-split scan
    // would run all O(n²/brands) levenshtein work in ONE task (13s at
    // sf0.1; ~1s spread). At scale the scan is already parallel and
    // nothing shuffles. A |Δlength| ≤ 2 prefilter short-circuits before
    // the O(len²) levenshtein; the integer threshold has no
    // float-boundary hazard.
    QueryDef(
      "q50_fuzzy_match",
      (spark, dir) => {
        val p = Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        val a = QueryDef.spreadIfNarrow(p)
        val b = p.select(col("p_partkey").as("b_key"), col("p_brand"),
          col("p_name").as("b_name"))
        a.join(broadcast(b), Seq("p_brand"))
          .filter(col("p_partkey") =!= col("b_key") &&
            abs(length(col("p_name")) - length(col("b_name"))) <= 2 &&
            levenshtein(col("p_name"), col("b_name")) <= 2)
          .groupBy(col("p_partkey"))
          .agg(count(lit(1)).as("n_variants"), min(col("b_name")).as("sample_variant"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT a.p_partkey, COUNT(*) AS n_variants, MIN(b.p_name) AS sample_variant
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 2
             |GROUP BY a.p_partkey ORDER BY a.p_partkey""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // n-gram CONTAINMENT pairs: |A∩B|/|A| — catches a small document
    // subsumed by a larger one, which Jaccard's union denominator dilutes
    // below any usable threshold. Same inverted-index core as q22 (the
    // comparisons are exact integer-ratio doubles — no float-boundary
    // hazard at the 0.8 threshold). The oracle guards len(s) > 0: docs
    // shorter than the shingle width produce no pairs in the Spark plan
    // (nothing explodes) and must not divide by zero in the all-pairs SQL.
    QueryDef(
      "q70_containment",
      (spark, dir) =>
        Dedup.ngramContainmentPairs(Tables.documents(spark, dir),
            idCol = "doc_id", textCol = "text", blockCol = lit(1),
            n = 3, threshold = 0.8)
          .withColumn("cont_a", round(col("cont_a"), 6))
          .withColumn("cont_b", round(col("cont_b"), 6))
          .orderBy(col("id_a"), col("id_b")),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
             |  list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s FROM toks),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) AS cont_a,
             |  len(list_intersect(a.s, b.s)) * 1.0 / len(b.s) AS cont_b
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE len(a.s) > 0 AND len(b.s) > 0)
             |SELECT id_a, id_b, ROUND(cont_a, 6) AS cont_a, ROUND(cont_b, 6) AS cont_b
             |FROM pairs WHERE greatest(cont_a, cont_b) >= 0.8 ORDER BY id_a, id_b""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Benchmark-contamination scan: eval split = every 20th doc; for each
    // eval doc, how many of its distinct 5-gram shingles occur anywhere
    // in the train split. The join is eval-grams ⋈ distinct train
    // vocabulary on the 64-bit gram hash — never doc×doc — and clean
    // (zero-overlap) eval docs stay in the report.
    QueryDef(
      "q75_contamination",
      (spark, dir) =>
        Dedup.crossCorpusContamination(Tables.documents(spark, dir),
            idCol = "doc_id", textCol = "text",
            evalPred = col("doc_id") % 20 === 0, n = 5)
          .select(col("id").as("doc_id"), col("n_grams"),
            col("n_shared"), col("contaminated"))
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 5 THEN [] ELSE
             |  list_transform(range(1, len(l)-3),
             |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4]) END) AS s
             |  FROM toks),
             |tg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 <> 0),
             |ev AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 = 0),
             |cnt AS (SELECT doc_id, COUNT(*) AS n_shared FROM ev JOIN tg USING (g) GROUP BY doc_id)
             |SELECT s.doc_id, CAST(len(s.s) AS BIGINT) AS n_grams,
             |  CAST(COALESCE(c.n_shared, 0) AS BIGINT) AS n_shared,
             |  COALESCE(c.n_shared, 0) > 0 AS contaminated
             |FROM sh s LEFT JOIN cnt c USING (doc_id)
             |WHERE s.doc_id % 20 = 0 ORDER BY s.doc_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Bloom-filter semi-join pre-filter (runtime-filter pattern): build a
    // kilobytes-sized sketch over the train side's 3-token-prefix keys,
    // broadcast the SKETCH, stamp eval rows with bloom_hit. The audit
    // aggregates the two properties that make the pattern sound at
    // 100 TB: zero false negatives (fn_free — a pruned row is truly
    // absent) and a bounded false-positive fraction (fp_ok: ≤ 10% of the
    // ABSENT rows fire spuriously — the denominator is the population
    // that can produce a false positive, so a degenerate always-true
    // filter fails even when most eval keys are genuinely present).
    // The oracle replays the EXACT membership (the bloom side is
    // engine-specific) and pins both booleans TRUE.
    QueryDef(
      "q81_bloom_prefilter",
      (spark, dir) => {
        val keyed = Tables.documents(spark, dir).select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 3)).as("k"))
        val train = keyed.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        val ev = keyed.filter(pmod(col("doc_id"), lit(5)) === 0)
        val probed = Relational.bloomPreFilter(ev, train, "k",
          expectedItems = 4096L, numBits = 65536L)
        val exact = train.select(col("k")).distinct()
          .withColumn("__in", lit(1))
        probed.join(broadcast(exact), Seq("k"), "left")
          .withColumn("in_train", col("__in").isNotNull)
          .agg(
            count(lit(1)).as("n_eval"),
            sum(when(col("in_train"), 1L).otherwise(0L)).as("n_in_train"),
            sum(when(col("in_train") && !col("bloom_hit"), 1L).otherwise(0L)).as("fn"),
            sum(when(!col("in_train") && col("bloom_hit"), 1L).otherwise(0L)).as("fp"))
          .select(col("n_eval"), col("n_in_train"),
            (col("fn") === 0).as("fn_free"),
            (col("fp") * 10 <= col("n_eval") - col("n_in_train")).as("fp_ok"))
      },
      Some("""WITH keyed AS (SELECT doc_id,
             |    array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1, 3), ' ') AS k
             |  FROM documents),
             |train AS (SELECT DISTINCT k FROM keyed WHERE doc_id % 5 <> 0),
             |ev AS (SELECT doc_id, k FROM keyed WHERE doc_id % 5 = 0),
             |j AS (SELECT e.doc_id, (t.k IS NOT NULL) AS in_train
             |  FROM ev e LEFT JOIN train t ON e.k = t.k)
             |SELECT COUNT(*) AS n_eval,
             |  CAST(SUM(CASE WHEN in_train THEN 1 ELSE 0 END) AS BIGINT) AS n_in_train,
             |  TRUE AS fn_free, TRUE AS fp_ok
             |FROM j""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Exact substring dedup (suffix-array family, sort/join realization):
    // per-doc stats of maximal token spans whose 5-grams all recur
    // verbatim in another document. k=5 against this corpus's 31-token
    // vocabulary flags a minority of docs (57/71/2064 at sf0.001/.01/.1)
    // — enough signal to gate, far from all-dup noise. The oracle replays
    // gram extraction, the min!=max cross-doc test, and the lag-based
    // interval merge on raw gram strings (the Spark side ships xxhash64
    // of the gram — identity up to 64-bit collisions).
    QueryDef(
      "q85_substring_dedup",
      (spark, dir) =>
        Dedup.duplicateSpanStats(Tables.documents(spark, dir),
            idCol = "doc_id", textCol = "text", k = 5)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
             |tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
             |grams AS (SELECT doc_id, i.i AS pos, array_to_string(t[i.i+1 : i.i+5], ' ') AS gram
             |  FROM tn, LATERAL (SELECT unnest(range(0, n_tokens - 4)) AS i) i
             |  WHERE n_tokens >= 5),
             |dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
             |dp AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
             |flag AS (SELECT doc_id, pos,
             |    CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 5
             |      THEN 1 ELSE 0 END AS ns
             |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |sp AS (SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM flag),
             |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 5 AS e
             |  FROM sp GROUP BY doc_id, span_id),
             |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             |    CAST(SUM(e - s) AS BIGINT) AS dup_tokens FROM spans GROUP BY doc_id)
             |SELECT t.doc_id, t.n_tokens,
             |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
             |  COALESCE(p.dup_tokens, 0) AS dup_tokens,
             |  ROUND(COALESCE(p.dup_tokens, 0) * 1.0 / t.n_tokens, 4) AS dup_frac
             |FROM tn t LEFT JOIN per p USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Substring-dedup REWRITE: the corpus with duplicated spans removed,
    // min-doc_id owner keeping the canonical copy. The oracle replays the
    // min-owner policy, the k-position coverage expansion, the token-level
    // anti join, and the ordered reassembly (string_agg ORDER BY pos).
    QueryDef(
      "q86_span_removal",
      (spark, dir) =>
        Dedup.removeDuplicateSpans(Tables.documents(spark, dir),
            idCol = "doc_id", textCol = "text", k = 5)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
             |tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
             |grams AS (SELECT doc_id, i.i AS pos, array_to_string(t[i.i+1 : i.i+5], ' ') AS gram
             |  FROM tn, LATERAL (SELECT unnest(range(0, n_tokens - 4)) AS i) i
             |  WHERE n_tokens >= 5),
             |dup AS (SELECT gram, min(doc_id) AS mn FROM grams
             |  GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
             |cover AS (SELECT DISTINCT g.doc_id, c.c AS pos
             |  FROM grams g JOIN dup d USING (gram),
             |    LATERAL (SELECT unnest(range(g.pos, g.pos + 5)) AS c) c
             |  WHERE g.doc_id <> d.mn),
             |tokpos AS (SELECT doc_id, i.i AS pos, t[i.i+1] AS tok
             |  FROM tn, LATERAL (SELECT unnest(range(0, n_tokens)) AS i) i),
             |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
             |  LEFT JOIN cover c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
             |  WHERE c.pos IS NULL)
             |SELECT tn.doc_id, tn.n_tokens,
             |  CAST(COUNT(k.pos) AS BIGINT) AS kept_tokens,
             |  COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text
             |FROM tn LEFT JOIN kept k USING (doc_id)
             |GROUP BY tn.doc_id, tn.n_tokens
             |ORDER BY tn.doc_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Incremental (delta) near-dup gate: batch = every 10th doc, corpus =
    // the rest; each batch doc scored by best-match 3-gram containment
    // against the corpus, rejected at >= 0.8 (the planted near-dup pairs
    // sit at jac >= 0.9, everything else < 0.1 — the threshold is far
    // from any data point). The oracle replays the asymmetric
    // explode-join, the shared counts, and the smaller-corpus-id
    // tie-break.
    QueryDef(
      "q88_delta_neardup",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Dedup.containmentAgainstCorpus(
            batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0),
            corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
            idCol = "doc_id", textCol = "text", n = 3, threshold = 0.8)
          .orderBy(col("batch_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
             |  list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s FROM toks),
             |b AS (SELECT doc_id AS batch_id, s, CAST(len(s) AS BIGINT) AS sz_batch
             |  FROM sh WHERE doc_id % 10 = 0),
             |c AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 10 <> 0),
             |bg AS (SELECT batch_id, unnest(s) AS g FROM b),
             |cg AS (SELECT corpus_id, unnest(s) AS g FROM c),
             |shared AS (SELECT batch_id, corpus_id, CAST(COUNT(*) AS BIGINT) AS shared
             |  FROM bg JOIN cg USING (g) GROUP BY batch_id, corpus_id),
             |best AS (SELECT batch_id, corpus_id, shared,
             |    ROW_NUMBER() OVER (PARTITION BY batch_id
             |      ORDER BY shared DESC, corpus_id) AS rn
             |  FROM shared)
             |SELECT b.batch_id, w.corpus_id AS best_match,
             |  COALESCE(w.shared, 0) AS shared, b.sz_batch,
             |  ROUND(COALESCE(w.shared, 0) * 1.0 / b.sz_batch, 6) AS containment,
             |  (COALESCE(w.shared, 0) * 1.0 / b.sz_batch) >= 0.8 AS rejected
             |FROM b LEFT JOIN (SELECT * FROM best WHERE rn = 1) w USING (batch_id)
             |ORDER BY b.batch_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // LSH banding recall/precision audit: one 16-wide auditable MinHash
    // signature, four band configurations (r = 16, 8, 4, 2), each scored
    // against the exact 3-gram Jaccard >= 0.5 truth set - the measured
    // S-curve that justifies q23's production (k=128, b=32) choice. The
    // oracle replays EVERYTHING: md5-based shingle hashes, the
    // closed-form (a_j, b_j) universal-hash parameters, the k min-folds,
    // value-keyed band collision, and the ppm ratios - all-BIGINT across
    // the driver hash.
    QueryDef(
      "q139_lsh_recall_audit",
      (spark, dir) =>
        // Spread the narrow doc scan (the q50/q119 lesson): the per-doc
        // md5 shingle hashing + 16-wide min-fold is compute-bound and a
        // single parquet split would run it on one core.
        Dedup.lshBandAudit(QueryDef.spreadIfNarrow(Tables.documents(spark, dir)),
          idCol = "doc_id", textCol = "text", n = 3, threshold = 0.5,
          k = 16, bandConfigs = Seq(1, 2, 4, 8),
          tokenHasher = Dedup.auditableTokenHash),
      Some(lshAuditOracle(k = 16, bandConfigs = Seq(1, 2, 4, 8))),
    ),

    // ----------------------------------------------------------------
    // Audit→production loop closed (the round-8 advice): q139 measures
    // the banding S-curve, recommendBandConfig PICKS from it — cheapest
    // config (candidate count is the verify-join cost) whose measured
    // recall clears the 80% floor, ties to fewer bands. The oracle
    // replays the full q139 audit and applies the same filter/order/
    // limit — the CHOICE itself is under the driver hash, so a recall
    // regression in any stage flips the recommended config and fails
    // the gate.
    QueryDef(
      "q141_band_choice",
      (spark, dir) =>
        Dedup.recommendBandConfig(
          Dedup.lshBandAudit(QueryDef.spreadIfNarrow(Tables.documents(spark, dir)),
            idCol = "doc_id", textCol = "text", n = 3, threshold = 0.5,
            k = 16, bandConfigs = Seq(1, 2, 4, 8),
            tokenHasher = Dedup.auditableTokenHash),
          recallFloorPpm = 800000L),
      Some(s"""SELECT * FROM (
              |${lshAuditOracle(k = 16, bandConfigs = Seq(1, 2, 4, 8))}
              |) aud WHERE recall_ppm >= 800000
              |ORDER BY n_candidates, bands LIMIT 1""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Cross-source contamination matrix: q22's near-dup pair stream
    // aggregated to (source, source) cells — mirror/re-post detection at
    // the feed level, where q133's vocabulary overlap only says two
    // feeds *sound* alike. The Jaccard threshold is cross-multiplied
    // integer milli-units (shared·1000 ≥ union·500), densities are exact
    // ppb integral divisions over possible pairs — no float anywhere.
    // The oracle replays the shingle/intersection pair stream doc×doc
    // (oracle-side only; the engine runs the inverted index) and the
    // same canonical-cell aggregation.
    QueryDef(
      "q148_contamination_matrix",
      (spark, dir) =>
        Dedup.crossSourceContamination(
          QueryDef.spreadIfNarrow(Tables.documents(spark, dir)),
          idCol = "doc_id", textCol = "text", sourceCol = "source",
          n = 3, thresholdMilli = 500),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
             |    list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s
             |  FROM toks),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.s, b.s)) * 1000 >=
             |    len(list_distinct(list_concat(a.s, b.s))) * 500),
             |cells AS (SELECT LEAST(da.source, db.source) AS src_a,
             |    GREATEST(da.source, db.source) AS src_b,
             |    CAST(COUNT(*) AS BIGINT) AS n_pairs
             |  FROM pairs
             |  JOIN documents da ON pairs.id_a = da.doc_id
             |  JOIN documents db ON pairs.id_b = db.doc_id
             |  GROUP BY 1, 2),
             |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source)
             |SELECT c.src_a, c.src_b, c.n_pairs,
             |  na.n AS n_docs_a, nb.n AS n_docs_b,
             |  CAST((CAST(c.n_pairs AS HUGEINT) * 1000000000) //
             |    (CASE WHEN c.src_a = c.src_b
             |       THEN CAST(na.n AS HUGEINT) * (na.n - 1) // 2
             |       ELSE CAST(na.n AS HUGEINT) * nb.n END) AS BIGINT) AS density_ppb
             |FROM cells c JOIN nd na ON c.src_a = na.source
             |JOIN nd nb ON c.src_b = nb.source
             |ORDER BY c.src_a, c.src_b""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Duplication assortativity: Newman modularity of the SOURCE
    // partition over the near-dup pair graph — the one-number companion
    // to q148's contamination matrix ("is duplication a within-feed
    // phenomenon?"). Q_ppb ≈ 10⁹ ⇒ per-source dedup would catch nearly
    // everything; Q_ppb ≈ 0 ⇒ cross-feed mirrors dominate and dedup
    // must stay global. Exact integer geometry throughout: the sign-
    // split ppb division keeps both engines' negative-division
    // semantics out of the hash. The oracle replays the pair stream
    // doc×doc (oracle-side only) and the same endpoint aggregation.
    QueryDef(
      "q151_dup_modularity",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val pairs = Dedup.ngramJaccardPairs(
            QueryDef.spreadIfNarrow(docs), "doc_id", "text", lit(1), 3, 0.5)
          .select(col("id_a"), col("id_b"))
        Graphs.partitionModularity(pairs,
            docs.select(col("doc_id").as("id"), col("source").as("part")))
          .withColumnRenamed("part", "source")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
             |    list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s
             |  FROM toks),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
             |lab AS (SELECT da.source AS pa, db.source AS pb FROM p
             |  JOIN documents da ON p.id_a = da.doc_id
             |  JOIN documents db ON p.id_b = db.doc_id),
             |ends AS (SELECT pa AS part, pa = pb AS intra FROM lab
             |  UNION ALL SELECT pb, pa = pb FROM lab),
             |parts AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS degree_sum,
             |    CAST(SUM(CASE WHEN intra THEN 1 ELSE 0 END) AS BIGINT) AS e2
             |  FROM ends GROUP BY part),
             |tot AS (SELECT CAST(SUM(degree_sum) AS BIGINT) AS m2,
             |    CAST(SUM(e2) AS HUGEINT) AS se2,
             |    SUM(CAST(degree_sum AS HUGEINT) * degree_sum) AS sd2 FROM parts),
             |w AS (SELECT part, degree_sum, e2,
             |    CAST(m2 AS HUGEINT) * e2 - CAST(degree_sum AS HUGEINT) * degree_sum AS num,
             |    CAST(m2 AS HUGEINT) * se2 - sd2 AS qnum,
             |    CAST(m2 AS HUGEINT) * m2 AS den, m2
             |  FROM parts, tot)
             |SELECT part AS source, degree_sum, e2 // 2 AS intra_pairs,
             |  CAST(CASE WHEN num >= 0 THEN (num * 1000000000) // den
             |    ELSE -(((-num) * 1000000000) // den) END AS BIGINT) AS contrib_ppb,
             |  m2 // 2 AS n_edges,
             |  CAST(CASE WHEN qnum >= 0 THEN (qnum * 1000000000) // den
             |    ELSE -(((-qnum) * 1000000000) // den) END AS BIGINT) AS modularity_ppb
             |FROM w ORDER BY source""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Per-document n-gram novelty: the fraction of a document's distinct
    // 3-grams whose FIRST corpus occurrence (min doc_id) is this
    // document — the diversity/curriculum signal (a feed of re-posts
    // scores near 0; genuinely new text near 10⁶ ppm) and the
    // incremental complement to pairwise dedup: novelty decays BEFORE
    // documents become near-duplicates. One (doc, gram) distinct frame
    // feeds the first-seen aggregate and the per-doc roll-up (cached —
    // one shingle pass); the gram-keyed join is the intended
    // vocabulary-scale merge join. Docs with <3 tokens have no grams
    // and no row, on both engines.
    QueryDef(
      "q157_ngram_novelty",
      (spark, dir) => {
        val grams = graft.core.CacheScope.cached(
          QueryDef.spreadIfNarrow(Tables.documents(spark, dir))
            .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
            .select(col("doc_id"),
              explode(Dedup.shinglesFromTokens(col("toks"), 3)).as("g")))
        val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
        grams.join(first, Seq("g"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            expr("(n_novel * 1000000) div n_grams").as("novelty_ppm"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
             |    list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s
             |  FROM toks),
             |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
             |f AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
             |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |  CAST((SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1000000)
             |    // COUNT(*) AS BIGINT) AS novelty_ppm
             |FROM g JOIN f ON g.g = f.g
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Boilerplate 5-gram audit: the C4/CCNet-class removal signal —
    // verbatim-repeated spans (nav bars, cookie banners, license
    // footers) recur across ≥5 DISTINCT docs long before whole pages
    // near-duplicate. Counts gram INSTANCES per doc (repeated
    // boilerplate inside one doc costs what it costs), exact integral
    // milli share. q157's symmetric complement: novelty credits what's
    // fresh, this marks what to strip.
    QueryDef(
      "q171_boilerplate",
      (spark, dir) =>
        TextAnalysis.boilerplateAudit(
            QueryDef.spreadIfNarrow(Tables.documents(spark, dir)),
            "doc_id", "text", n = 5, minDocs = 5L)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
             |gi AS (SELECT doc_id, unnest(CASE WHEN len(l) < 5 THEN [] ELSE
             |    list_transform(range(1, len(l)-3), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4]) END) AS gram
             |  FROM toks),
             |bf AS (SELECT gram FROM (
             |    SELECT gram, COUNT(DISTINCT doc_id) AS dfd FROM gi GROUP BY gram)
             |  WHERE dfd >= 5),
             |per AS (SELECT gi.doc_id, COUNT(*) AS n_grams,
             |    SUM(CASE WHEN bf.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
             |  FROM gi LEFT JOIN bf ON gi.gram = bf.gram GROUP BY gi.doc_id)
             |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
             |  CAST(n_boiler AS BIGINT) AS n_boiler,
             |  CAST((1000 * n_boiler) // n_grams AS BIGINT) AS boiler_milli
             |FROM per ORDER BY doc_id""".stripMargin),
    ),

    // ----------------------------------------------------------------
    // Pair-similarity spectrum: co-occurring pair mass by exact-Jaccard
    // decile — the read that justifies a dedup threshold BEFORE picking
    // one. Healthy corpora are bimodal (incidental-overlap mode near 0,
    // duplicate mode near 1, a gap between — this corpus: 11997/1/27
    // pairs in deciles 0/8/9), so any threshold in the gap is
    // equivalent; a gapless spectrum is the warning that tuning will
    // move results. Rides the q22 inverted-index pair frame (work ∝
    // co-occurring shingle instances), one ≤10-row roll-up after.
    QueryDef(
      "q184_similarity_spectrum",
      (spark, dir) =>
        Dedup.similaritySpectrum(Tables.documents(spark, dir),
          idCol = "doc_id", textCol = "text", blockCol = lit(1), n = 3),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
             |  list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s FROM toks),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    (CAST(len(list_intersect(a.s, b.s)) AS BIGINT) * 1000000)
             |      // (len(list_distinct(list_concat(a.s, b.s)))) AS jac_ppm
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.s, b.s)) > 0),
             |ex AS (SELECT LEAST(jac_ppm // 100000, 9) AS decile, jac_ppm,
             |    unnest([id_a, id_b]) AS id
             |  FROM pairs)
             |SELECT decile, CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
             |  CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
             |  CAST(MIN(jac_ppm) AS BIGINT) AS min_jac_ppm,
             |  CAST(MAX(jac_ppm) AS BIGINT) AS max_jac_ppm
             |FROM ex GROUP BY decile ORDER BY decile""".stripMargin),
    ),
  )

  /** Oracle for [[Dedup.lshBandAudit]]: replays the signature (embedding
    * the closed-form universal-hash parameters as literals), value-keyed
    * banding per config, and the exact-Jaccard truth join.
    */
  private def lshAuditOracle(k: Int, bandConfigs: Seq[Int]): String = {
    val params = (0 until k).map { j =>
      s"($j, ${graft.functions.MinHashSignature.a(j)}, ${graft.functions.MinHashSignature.b(j)})"
    }.mkString(", ")
    val perConfig = bandConfigs.map { b =>
      val w = k / b
      s"""band_$b AS (SELECT doc_id, i.i AS band_idx,
         |    array_to_string(list_transform(sig[i.i*$w+1 : i.i*$w+$w], x -> CAST(x AS VARCHAR)), ',') AS key
         |  FROM sigv CROSS JOIN (SELECT unnest(range(0, $b)) AS i) i),
         |cand_$b AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM band_$b a JOIN band_$b b2
         |    ON a.band_idx = b2.band_idx AND a.key = b2.key AND a.doc_id < b2.doc_id),
         |row_$b AS (SELECT CAST($b AS BIGINT) AS bands, CAST($w AS BIGINT) AS rows_per_band,
         |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |    CAST(COALESCE(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_recovered
         |  FROM cand_$b c LEFT JOIN true_pairs t ON c.id_a = t.id_a AND c.id_b = t.id_b)""".stripMargin
    }.mkString(",\n")
    val union = bandConfigs.map(b => s"SELECT * FROM row_$b").mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(l) < 3 THEN [] ELSE
       |  list_transform(range(1, len(l)-1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) END) AS s FROM toks),
       |shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |hv AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 2147483647 AS h
       |  FROM (SELECT doc_id, unnest(s) AS g FROM shn)),
       |params(j, a, b) AS (VALUES $params),
       |sigj AS (SELECT doc_id, j, MIN((h * a + b) % 2147483647) AS sv
       |  FROM hv CROSS JOIN params GROUP BY doc_id, j),
       |sigv AS (SELECT doc_id, list(sv ORDER BY j) AS sig FROM sigj GROUP BY doc_id),
       |true_pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM shn a JOIN shn b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0
       |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
       |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM true_pairs),
       |$perConfig,
       |u AS ($union)
       |SELECT bands, rows_per_band, n_candidates, tt.n_true, n_recovered,
       |  CASE WHEN tt.n_true > 0 THEN (n_recovered * 1000000) // tt.n_true END AS recall_ppm,
       |  CASE WHEN n_candidates > 0 THEN (n_recovered * 1000000) // n_candidates END AS precision_ppm
       |FROM u, tt ORDER BY bands""".stripMargin
  }
}
