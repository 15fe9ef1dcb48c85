package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.CacheScope

/** Text-analysis operators for training-data curation: language ID, quality
  * scoring, token counting, fingerprinting. All scalar, all codegen'd
  * builtins — they run at scan speed and never shuffle.
  */
object TextAnalysis {

  /** Stopword profiles for the n-gram/stopword language heuristic. Tiny on
    * purpose: the heuristic is a cheap first-pass filter; its contract is
    * determinism, not linguistic perfection.
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "que", "los", "un", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
  )

  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Space-joined word n-grams of a token array. The `when` guard matters
    * for correctness, not just speed: `sequence(0, size-n)` RUNS BACKWARDS
    * for arrays shorter than n tokens (Spark's sequence descends when
    * stop < start), which would fabricate reversed grams.
    */
  def wordGrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"wordGrams: n must be >= 1, got $n")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** Count of tokens belonging to a stopword set. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Language-ID heuristic: argmax of stopword hits across profiles; ties
    * and all-zero go to "und" (undetermined). Deterministic: profiles are
    * compared in fixed order and the first profile reaching the max wins.
    *
    * Built as ONE pass over the token array: a single `aggregate` folds the
    * tokens into a per-profile hit-count array, and the argmax runs inside a
    * `transform` lambda so the hits array is referenced exactly once. The
    * naive form (per-profile `size(filter(...))` + a nested `when` fold)
    * re-inlines the tokenizing `split` into every score AND every branch of
    * the fold — a multiplicative expression blow-up that took ~6 s on 5k
    * rows purely in eval/codegen cost.
    */
  def langId(textCol: Column): Column = {
    val zero = array(StopwordProfiles.map(_ => lit(0)): _*)
    val hits = aggregate(
      tokens(textCol),
      zero,
      (acc, t) => array(StopwordProfiles.zipWithIndex.map { case ((_, words), i) =>
        element_at(acc, i + 1) + when(t.isInCollection(words), 1).otherwise(0)
      }: _*))
    // `h` is a lambda variable: re-referencing it is free, unlike `hits`.
    val pick = transform(array(hits), h => {
      val mx = array_max(h)
      val chain = StopwordProfiles.zipWithIndex.reverse
        .foldLeft(lit("und")) { case (els, ((lang, _), i)) =>
          when(element_at(h, i + 1) === mx, lit(lang)).otherwise(els)
        }
      when(mx <= 0, lit("und")).otherwise(chain)
    })
    element_at(pick, 1)
  }

  /** Quality metrics: token count, type-token ratio (distinct/total),
    * mean token length, stopword ratio (any profile). A doc "passes" the
    * quality gate when it has enough tokens and lexical diversity — the
    * length/stopword heuristics used by C4/Gopher-style corpus filters.
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val allStops = StopwordProfiles.flatMap(_._2).distinct
    df.withColumn("n_tokens", size(toks).cast(LongType))
      .withColumn("distinct_ratio",
        size(array_distinct(toks)).cast(DoubleType) / size(toks).cast(DoubleType))
      .withColumn("mean_token_len",
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) /
          size(toks).cast(DoubleType))
      .withColumn("stopword_ratio",
        stopwordHits(toks, allStops).cast(DoubleType) / size(toks).cast(DoubleType))
      .withColumn("quality_pass", col("n_tokens") >= 10 && col("distinct_ratio") >= 0.2)
  }

  /** Token counts: whitespace tokens and a BPE-ish subword proxy (runs of
    * letters, digits, or single non-space symbols — the shape of a GPT-2
    * pre-tokenizer without the merges table).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(tokens(col(textCol))).cast(LongType))
      .withColumn("subword_tokens",
        size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast(LongType))

  /** Content fingerprint: MD5 of case-folded, whitespace-collapsed text.
    * Dedup at 100 TB shuffles these 32-hex digests instead of bodies.
    */
  def fingerprint(c: Column): Column =
    md5(to_binary(regexp_replace(trim(lower(c)), "\\s+", " "), lit("utf-8")))

  /** TF-IDF top terms per document: term frequency from the exploded token
    * stream, smoothed idf = ln((N+1)/(df+1)) + 1 (scikit-learn's
    * formulation), score = tf·idf, top `perDoc` terms ranked by
    * (round(score,6) DESC, term) for engine-stable ordering. Two shuffles:
    * the (doc,term) aggregate and the per-term document frequency — both
    * partial-aggregated.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      perDoc: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE aggregation over the exploded token stream (the big shuffle);
    // every other statistic derives from the much smaller tf frame:
    // df(term) = number of (doc,term) groups per term — tf's grain IS
    // doc-distinct terms, so no separate distinct pass. Cache tf (two
    // consumers), not the exploded stream.
    val toks = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), explode(col("toks")).as("term"))
    val tf = CacheScope.cached(
      toks.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf")))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Corpus size as a one-row broadcast scalar IN the plan — a driver-side
    // df.count() here would be a whole extra pass over the source.
    val nDocs = df.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(docFreq, "term").crossJoin(nDocs)
      .withColumn("tfidf", round(
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= perDoc)
      .select(col("doc").as(idCol), col("term_rank"), col("term"), col("tfidf"))
  }

  /** BM25 top terms per document (Robertson/Sparck-Jones, k1=1.2 b=0.75):
    * adds document-length normalization over TF-IDF — long documents stop
    * winning on raw term counts. Same two-shuffle shape as tfidfTopTerms
    * plus a broadcast scalar (avgdl).
    */
  def bm25TopTerms(df: DataFrame, idCol: String, textCol: String,
      perDoc: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE aggregation over the exploded token stream; dl and df both
    // derive from the small tf frame (see tfidfTopTerms): dl(doc) = Σ tf,
    // df(term) = group count per term. Cache tf — three consumers.
    val toks = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), explode(col("toks")).as("term"))
    val tf = CacheScope.cached(
      toks.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Both corpus scalars live IN the plan as one-row broadcast frames —
    // no separate driver-side count pass.
    val nDocs = df.agg(count(lit(1)).cast("double").as("n_docs"))
    val avgdl = dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val scored = tf.join(docFreq, "term").join(dl, "doc")
      .crossJoin(avgdl).crossJoin(nDocs)
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("bm25", round(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("bm25").desc, col("term"))
    scored.withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= perDoc)
      .select(col("doc").as(idCol), col("term_rank"), col("term"), col("bm25"))
  }

  /** PII patterns for [[piiRedact]]/[[piiCounts]]. Deliberately the
    * RE2-compatible subset (char classes + bounded repeats, no lookaround)
    * so the same pattern text runs identically under Java regex (Spark)
    * and RE2-family engines — redaction must not depend on which engine
    * scrubbed the corpus.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._]+@[a-zA-Z0-9]+\\.[a-zA-Z]+",
    "phone" -> "[0-9]{3}-[0-9]{4}",
  )

  /** Redact every PII pattern occurrence with its [TYPE] placeholder —
    * the pre-training scrub pass. Patterns apply in declaration order
    * (email first, so a phone-like substring inside an address never
    * splits an email match).
    */
  def piiRedact(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (kind, re)) =>
      regexp_replace(acc, re, s"[${kind.toUpperCase}]")
    }

  /** Per-kind PII match counts (audit trail for the scrub pass). */
  def piiCounts(c: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (kind, re) =>
      kind -> size(regexp_extract_all(c, lit(re), lit(0))).cast(LongType)
    }

  /** Intra-document repetition stats over word n-grams: total grams,
    * the most-repeated gram's multiplicity, and their ratio — the cheap
    * boilerplate/spam signal (Gopher's repetition filters): natural text
    * rarely repeats one bigram past a few percent of the stream. Docs
    * shorter than the gram width produce no grams and drop out (nothing
    * to measure). One shuffle on (id, gram), one on id.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val grams = toks
      .select(col("id"), explode_outer(Dedup.gramsFromTokens(col("toks"), n)).as("g"))
      .filter(col("g").isNotNull)
    grams.groupBy(col("id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("id"))
      .agg(sum(col("cnt")).cast(LongType).as("n_grams"),
        max(col("cnt")).cast(LongType).as("max_rep"))
      .withColumn("rep_ratio",
        col("max_rep").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** Content-defined chunking (CDC): a chunk boundary falls wherever the
    * token's hash ≡ 0 (mod `modulus`), giving chunks of expected length
    * `modulus` whose boundaries depend on CONTENT, not position — insert
    * a token early in a document and only its own chunk changes, while
    * fixed-size chunking would shift every later boundary. This is the
    * segmentation primitive behind dedup storage / incremental-sync
    * systems; chunk hashes (not done here) then dedupe across a corpus
    * where whole-document fingerprints miss partial overlap.
    *
    * Per-document output: n_chunks, n_tokens, max_chunk_tokens. The
    * per-doc window partitions by the id — parallel across documents,
    * bounded by document length within one.
    */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String,
      modulus: Int): DataFrame = {
    require(modulus > 1, "modulus must exceed 1")
    val positioned = df
      .select(col(idCol), posexplode(tokens(col(textCol))))
      .withColumn("h", pmod(Dedup.auditableTokenHash(col("col")), lit(2147483647L)))
      .withColumn("boundary",
        (pmod(col("h"), lit(modulus.toLong)) === 0).cast(LongType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    positioned
      .withColumn("chunk_id", sum(col("boundary")).over(w))
      .groupBy(col(idCol), col("chunk_id")).agg(count(lit(1)).as("clen"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("n_tokens"),
        max(col("clen")).as("max_chunk_tokens"))
  }

  /** Polynomial rolling hash (Rabin-Karp shape) over the token stream —
    * an order-SENSITIVE fingerprint, unlike the MD5 of the normalized text:
    * hash = Σ tok_hash(t_i)·B^i mod P, computed as a left fold.
    */
  def rollingHash(c: Column): Column = rollingHash(c, t => xxhash64(t))

  /** Rolling hash with a pluggable token hash — pass
    * [[Dedup.auditableTokenHash]] for the engine-portable md5-based
    * variant an external SQL oracle can replay (production paths keep the
    * faster xxhash64 default).
    */
  def rollingHash(c: Column, tokenHasher: Column => Column): Column = {
    // P < 2^31 and B ≈ 2^20 keep acc·B + h < 2^52 — no ANSI long overflow.
    val B = 1000003L
    val Pm = 2147483647L // 2^31 - 1
    aggregate(tokens(c), lit(0L),
      (acc, t) => pmod(acc * B + pmod(tokenHasher(t), lit(Pm)), lit(Pm)))
  }

  /** PMI collocations: adjacent token pairs whose co-occurrence beats the
    * independence assumption — pmi(x,y) = ln(p(xy) / (p(x)·p(y))) with
    * p(xy) = c_xy/B over bigram instances and p(x) = c_x/N over tokens.
    * The classic collocation/multi-word-expression extractor (Church &
    * Hanks 1990); `minCount` suppresses the low-frequency pairs whose PMI
    * is all variance.
    *
    * Scale shape: two corpus-bounded aggregations (unigram + bigram
    * tables, keyed shuffles on the token/gram); the bigram→unigram count
    * joins are plain key joins (the unigram table broadcasts when the
    * vocabulary is small); the corpus totals ride as broadcast one-row
    * frames. Factors are cast to double BEFORE multiplying (the integer
    * product c_xy·N² overflows int64 at corpus scale), and the PMI is
    * rounded to 6 decimals so downstream ordering is engine-stable.
    *
    * Returns (gram, c_xy, pmi), one row per surviving bigram.
    *
    * The tokenized frame feeds four branches (unigram table, bigram
    * table, both totals) and the unigram table two join sides, so both
    * are cached through [[graft.core.CacheScope]] — the
    * unigram cache is vocabulary-sized (cheap); the token cache is
    * corpus-sized, the usual trade (at 100 TB prefer re-reading columnar
    * storage: call it inside `CacheScope.using`, or pre-tokenize upstream).
    */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = CacheScope.cached(docs.select(tokens(col(textCol)).as("toks")))
    val uni = CacheScope.cached(toks.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c")))
    val biAll = toks
      .select(explode(Dedup.gramsFromTokens(col("toks"), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_xy"))
    // Corpus totals from the ARRAY SIZES, not by re-aggregating the
    // unigram/bigram tables: one-row map-side sums (N = Σ|toks|,
    // B = Σ max(|toks|−1, 0)) — no vocabulary-keyed shuffle and no
    // second explode pass just to count what the array length knows.
    val nTok = toks.agg(sum(size(col("toks"))).cast("long").as("n_tokens"))
    val nBi = toks.agg(sum(greatest(size(col("toks")) - 1, lit(0)))
      .cast("long").as("n_bigrams"))
    biAll.filter(col("c_xy") >= minCount)
      .withColumn("x", split(col("gram"), " ").getItem(0))
      .withColumn("y", split(col("gram"), " ").getItem(1))
      .join(uni.select(col("t").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("t").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .withColumn("pmi", round(log(
        (col("c_xy").cast("double") * col("n_tokens") * col("n_tokens")) /
          (col("n_bigrams").cast("double") * col("c_x") * col("c_y"))), 6))
      .select(col("gram"), col("c_xy"), col("pmi"))
  }

  /** Vocabulary Jaccard between every pair of groups (sources, feeds,
    * languages) — "which domains speak the same language": mixture
    * design and cross-feed contamination triage. Inverted-index
    * co-occurrence (token → groups), never group × group over
    * vocabularies; output is |groups|²-bounded with exact integral-ppm
    * scores. The distinct (group, token) frame feeds three consumers
    * (both self-join branches and the per-group sizes), so it is
    * CacheScope-cached — one distinct aggregation, not one per branch.
    */
  def vocabOverlap(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val vocab = CacheScope.cached(df
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct())
    val sizes = vocab.groupBy(col("grp")).agg(count(lit(1)).as("sz"))
    vocab.select(col("grp").as("grp_a"), col("w"))
      .join(vocab.select(col("grp").as("grp_b"), col("w")), Seq("w"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes.select(col("grp").as("grp_a"), col("sz").as("sz_a"))),
        Seq("grp_a"))
      .join(broadcast(sizes.select(col("grp").as("grp_b"), col("sz").as("sz_b"))),
        Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("shared"),
        expr("(cast(shared as decimal(38,0)) * 1000000) div " +
          "cast(sz_a + sz_b - shared as decimal(38,0))").as("jaccard_ppm"))
  }

  /** Out-of-vocabulary audit: token-level OOV rate of a held-out slice
    * under top-V train vocabularies, for several V in one pass — the
    * standard "is V big enough" curve read before fixing a tokenizer /
    * embedding-table budget. The corpus is split train/eval by the
    * deterministic id-hash bucket ([[Sampling.idBucket]] < trainPct);
    * the train vocabulary is ranked by (train frequency DESC, token ASC)
    * and, for each requested size V, the eval tokens whose word ranks
    * beyond V — or never occurs in train at all — count as OOV.
    *
    * Scale: one (token)-keyed aggregation over the exploded corpus
    * carries train and eval counts together (conditional sums — the
    * corpus is scanned once, not once per side). The frequency rank is
    * NEVER a global single-partition sort over the vocabulary: it is the
    * banded two-phase prefix sum ([[Stats.orderStatsPermille]]'s shape)
    * with band = (train_n, 2-char token prefix) — row_number inside each
    * band plus broadcast offsets from the bounded per-band totals frame.
    * The prefix sub-banding is what keeps the count=1 band (the Zipf
    * tail, roughly half the vocabulary) from becoming one giant window
    * partition. Per-V results are conditional sums over the ranked
    * frame, exploded from ONE aggregate row — V-count-independent
    * shuffles. All outputs exact BIGINT (ppm by integer division).
    */
  def oovAudit(df: DataFrame, idCol: String, textCol: String,
      vocabSizes: Seq[Int], trainPct: Int = 80): DataFrame = {
    require(vocabSizes.nonEmpty && vocabSizes.forall(_ > 0),
      "vocabSizes must be positive")
    require(trainPct > 0 && trainPct < 100, "trainPct must be in (0, 100)")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(
        (Sampling.idBucket(col(idCol), 100) < trainPct).as("is_train"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    // Three consumers (totals, band-local ranks, band offsets) — cache
    // the one data-sized aggregation instead of re-scanning per branch.
    val wc = CacheScope.cached(toks.groupBy(col("tok")).agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("train_n"),
      sum(when(col("is_train"), 0L).otherwise(1L)).as("eval_n")))
    val tot = wc.agg(
      sum(col("train_n")).as("n_train_tokens"),
      sum(col("eval_n")).as("n_eval_tokens"),
      sum(when(col("train_n") > 0, 1L).otherwise(0L)).as("n_vocab_words"))
    val vocab = wc.filter(col("train_n") > 0)
      .withColumn("pfx", substring(col("tok"), 1, 2))
    val wLocal = Window.partitionBy(col("train_n"), col("pfx"))
      .orderBy(col("tok"))
    val local = vocab.withColumn("rn", row_number().over(wLocal))
    // Single-partition window over the BOUNDED (train_n × prefix)
    // band-totals frame only — never over the vocabulary itself.
    val wBand = Window.orderBy(col("train_n").desc, col("pfx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = vocab.groupBy(col("train_n"), col("pfx"))
      .agg(count(lit(1)).as("t"))
      .select(col("train_n"), col("pfx"),
        coalesce(sum(col("t")).over(wBand), lit(0L)).as("off"))
    // (train_n, pfx) joins with <=> — semantically identical (train_n is a
    // filtered-positive count; pfx = substring of a non-null token): a
    // plain equi-join would infer isnotnull(substring(tok,1,2)) into this
    // branch's scan only, de-canonicalizing the shared `vocab` subtree and
    // silently disabling AQE exchange reuse (the Stats 3-scan shape).
    val ranked = local.join(
        broadcast(offsets.withColumnRenamed("train_n", "train_n_o")
          .withColumnRenamed("pfx", "pfx_o")),
        col("train_n") <=> col("train_n_o") && col("pfx") <=> col("pfx_o"))
      .select(col("eval_n"), (col("off") + col("rn")).as("rank"))
    val ivAggs = vocabSizes.map(v =>
      sum(when(col("rank") <= v, col("eval_n")).otherwise(0L)).as(s"iv_$v"))
    val inVocab = ranked.agg(ivAggs.head, ivAggs.tail: _*)
    val perV = vocabSizes.map(v =>
      struct(lit(v.toLong).as("vocab_size"),
        coalesce(col(s"iv_$v"), lit(0L)).as("iv")))
    tot.crossJoin(broadcast(inVocab))
      .select(col("n_train_tokens"), col("n_eval_tokens"),
        col("n_vocab_words"), explode(array(perV: _*)).as("r"))
      .select(col("r.vocab_size").as("vocab_size"),
        col("n_train_tokens"), col("n_eval_tokens"), col("n_vocab_words"),
        (col("n_eval_tokens") - col("r.iv")).as("n_oov"),
        when(col("n_eval_tokens") > 0,
          expr("((n_eval_tokens - r.iv) * 1000000) div n_eval_tokens"))
          .as("oov_ppm"))
      .orderBy(col("vocab_size"))
  }

  /** Boilerplate n-gram audit — the C4/CCNet-class boilerplate signal
    * (navigation bars, cookie banners, license footers repeat VERBATIM
    * across pages long before whole pages become near-duplicates): an
    * n-gram is boilerplate when it occurs in ≥ `minDocs` DISTINCT
    * documents; each document reports its gram INSTANCE counts (not
    * distinct grams — repeated boilerplate inside one doc costs what it
    * costs) and the exact integral boilerplate share in milli-units.
    * Complements q157's novelty (first-occurrence credit) with the
    * symmetric removal signal: novelty says what's fresh, this says what
    * to strip.
    *
    * Scale shape: one exploded instance stream (cached — the
    * doc-frequency aggregation and the per-doc rollup both read it), one
    * vocabulary-scale distinct + aggregate, one gram-keyed join back.
    * Work ∝ token instances; never doc×doc.
    */
  def boilerplateAudit(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Long = 5L): DataFrame = {
    require(n >= 1 && minDocs >= 2, "n >= 1, minDocs >= 2")
    val inst = CacheScope.cached(df.select(col(idCol).as("doc_id"),
      explode(wordGrams(tokens(col(textCol)), n)).as("gram")))
    val boiler = inst.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select(col("gram"), lit(true).as("is_boiler"))
    inst.join(boiler, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_milli", expr("(1000 * n_boiler) div n_grams"))
  }

  /** Retrieval chunking: overlapping token windows of `window` tokens at
    * `stride` intervals — the index-build step of a RAG pipeline (split
    * every document into retrievable passages with enough overlap that no
    * answer span straddles a boundary unseen). Emits one row per chunk:
    * ordinal, token offsets, and an auditable 60-bit md5 fingerprint of
    * the chunk text (the retrieval-index key — dedupable and
    * engine-replayable, the [[graft.functions.CountMin]] hash discipline).
    *
    * Chunk starts are 0, stride, 2·stride, …; a start > 0 is emitted only
    * while the PREVIOUS chunk did not already reach the end of the
    * document (its successor would contribute zero new tokens — the
    * standard tail rule, so a 100-token doc at 64/48 yields [0,64) and
    * [48,100), not a third all-overlap chunk). The tokenizer is staged
    * into its own projection once ([[tokens]]); everything else is
    * per-row array arithmetic — no shuffle, work ∝ tokens, and chunk
    * counts are data-independent functions of document length.
    */
  /** Duplicate-passage audit over [[ragChunks]] fingerprints — the
    * RefinedWeb "common passages" read at retrieval-index granularity:
    * a chunk whose fingerprint recurs in ≥ `minDocs` DISTINCT documents
    * is shared content (syndicated paragraphs, quoted licenses, mirrored
    * sections) that would be indexed `minDocs` times and retrieved as
    * spam. Complements [[boilerplateAudit]] one level up: grams catch
    * short verbatim spans, this catches whole retrievable passages —
    * and the fp table IS the passage-dedup key for the index build.
    *
    * Scale shape: one cached chunk frame feeds the fp-frequency
    * aggregate and the per-doc roll-up; the join back is fp-keyed.
    * Work ∝ chunks (∝ tokens / stride), never doc×doc.
    */
  def chunkDedupAudit(df: DataFrame, idCol: String, textCol: String,
      window: Int = 64, stride: Int = 48, minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2, s"chunkDedupAudit: minDocs must be >= 2, got $minDocs")
    val ch = CacheScope.cached(ragChunks(df, idCol, textCol, window, stride))
    val shared = ch.select(col("chunk_fp"), col("doc_id")).distinct()
      .groupBy(col("chunk_fp")).agg(count(lit(1)).as("fp_docs"))
      .filter(col("fp_docs") >= minDocs)
      .select(col("chunk_fp"), lit(true).as("is_dup"))
    ch.join(shared, Seq("chunk_fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_milli", expr("(1000 * n_dup_chunks) div n_chunks"))
  }

  /** Verbatim passage leakage across the train/eval boundary — the
    * contamination mode that actually moves benchmark numbers: an eval
    * document whose PASSAGES appear word-for-word in train is memorizable
    * even when the documents as wholes are not near-duplicates (q148's
    * n-gram matrix reads source×source affinity; this reads the SPLIT
    * boundary at retrieval granularity). Splits are the engine's standard
    * deterministic id-hash assignment ([[Sampling.trainValTestSplit]] —
    * the same buckets q37/q125 ship), so the audit measures exactly the
    * split a training run would use.
    *
    * Scale shape: one cached chunk frame ([[ragChunks]]); the train
    * fingerprint set is a distinct projection joined back fp-keyed;
    * per-split roll-up. Work ∝ chunks, never doc×doc.
    */
  def passageLeakAudit(df: DataFrame, idCol: String, textCol: String,
      window: Int = 32, stride: Int = 24,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val ch = CacheScope.cached(Sampling.trainValTestSplit(
      ragChunks(df, idCol, textCol, window, stride), "doc_id",
      trainPct, valPct))
    val trainFps = ch.filter(col("split") === "train")
      .select(col("chunk_fp")).distinct()
      .withColumn("in_train", lit(true))
    ch.filter(col("split") =!= "train")
      .join(trainFps, Seq("chunk_fp"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("in_train"), 1L).otherwise(0L)).as("n_leaked_chunks"),
        countDistinct(when(col("in_train"), col("doc_id")))
          .as("n_docs_affected"))
      .withColumn("leak_ppm", expr("(n_leaked_chunks * 1000000) div n_chunks"))
      .orderBy(col("split"))
  }

  /** Vocabulary-growth (Heaps) curve: distinct n-grams and token mass
    * accumulated over deterministic doc-id-ordered corpus prefixes — the
    * token-budget planning read ("how fast does the vocabulary still
    * grow?" — a flattening curve says more data buys repetition, not
    * coverage; Heaps 1978).
    *
    * Prefixes are defined by doc_id ORDER, not row order: each requested
    * permille becomes an exact doc_id cutoff via
    * [[Stats.orderStatsPermille]] (the banded distributed order-statistics
    * path — never a global sort), melted to a broadcast row set; the
    * per-prefix roll-ups are conditional sums against those cutoffs, so
    * the whole curve costs ONE pass over the gram stream regardless of
    * checkpoint count. `vocab_cum` rides each gram's FIRST-occurrence
    * doc (q157's first-seen machinery): a gram is in the prefix
    * vocabulary iff its earliest doc is. Work ∝ token instances.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, fracsMilli: Seq[Int] = Seq(125, 250, 500, 1000),
      bandWidth: Long = 1024L): DataFrame = {
    require(n >= 1, s"vocabGrowth: n must be >= 1, got $n")
    require(fracsMilli.nonEmpty && fracsMilli.forall(f => f >= 1 && f <= 1000),
      "fracsMilli must be permilles in [1, 1000]")
    val base = CacheScope.cached(df.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("tk")))
    val cuts = Stats.orderStatsPermille(base.select(col("doc_id")),
      lit("all"), col("doc_id"), fracsMilli, bandWidth)
    val stackArgs = fracsMilli
      .map(f => s"CAST($f AS BIGINT), p${f}_x1000").mkString(", ")
    // The cutoff frame is |fracsMilli| rows, but its LINEAGE is the whole
    // banded order-statistics pipeline (two windows, ~6 exchanges). Both
    // conditional aggregations below consume it, and uncached each
    // consumer re-executes that pipeline (the before-plan shows the full
    // subtree twice, 63 Exchanges). Collect the bounded frame once and
    // re-inject it as a local relation: one cutoff computation, and the
    // downstream crossJoins broadcast a LocalTableScan.
    val cutComputed = cuts.select(expr(
      s"stack(${fracsMilli.size}, $stackArgs) AS (frac_milli, cut_x1000)"))
    val cutRows = {
      import scala.jdk.CollectionConverters._
      df.sparkSession.createDataFrame(
        cutComputed.collect().toSeq.asJava, cutComputed.schema)
    }
    val docsCum = base
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"))
      .crossJoin(broadcast(cutRows))
      .groupBy(col("frac_milli"), col("cut_x1000"))
      .agg(sum(when(col("doc_id") * 1000 <= col("cut_x1000"), 1L)
          .otherwise(0L)).as("docs_cum"),
        sum(when(col("doc_id") * 1000 <= col("cut_x1000"), col("n_toks"))
          .otherwise(0L)).as("tokens_cum"))
    val firstSeen = base
      .select(col("doc_id"), explode(wordGrams(col("tk"), n)).as("gram"))
      .groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    val vocabCum = firstSeen.crossJoin(broadcast(cutRows))
      .groupBy(col("frac_milli"))
      .agg(sum(when(col("first_doc") * 1000 <= col("cut_x1000"), 1L)
        .otherwise(0L)).as("vocab_cum"))
    // Both sides are |checkpoints|-row frames; the estimator can't see
    // that through the agg lineage, so broadcast explicitly (no SMJ).
    docsCum.join(broadcast(vocabCum), Seq("frac_milli"))
      .select(col("frac_milli"), col("docs_cum"), col("tokens_cum"),
        col("vocab_cum"),
        when(col("vocab_cum") > 0,
          expr("(tokens_cum * 1000) div vocab_cum"))
          .as("tokens_per_gram_milli"))
      .orderBy(col("frac_milli"))
  }

  def ragChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 64, stride: Int = 48): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val overlap = window - stride
    val staged = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("tk"))
    // Largest k with k*stride + overlap < n — past it, chunk k-1 already
    // covers to EOF. Spark div truncates toward zero and DuckDB //
    // floors; greatest(0, ·) makes both agree on short docs.
    val chunks = staged
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("kmax",
        greatest(lit(0L), expr(s"(n - ${overlap + 1}) div $stride")))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(expr(s"transform(sequence(CAST(0 AS BIGINT), kmax), k -> k * $stride)"))
          .as("start_tok"))
    chunks
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("tk"), (col("start_tok") + 1).cast("int"),
          lit(window))))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("long").as("chunk_idx"),
        col("start_tok"),
        (least(col("n"), col("start_tok") + window) - col("start_tok"))
          .as("n_tok"),
        length(col("chunk_text")).cast("long").as("n_chars"),
        conv(substring(md5(col("chunk_text")), 1, 15), 16, 10).cast("long")
          .as("chunk_fp"))
  }
}
