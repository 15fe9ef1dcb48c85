package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Blocking, Dedup, Multimodal, Privacy, Sampling, Similarity, Stats, TextAnalysis}

/** The engine's capabilities as a SQL surface.
  *
  * The reference exposes its pipelines to analysts as SQL over staging
  * tables (the DDL under sql/staging; the marts in sql/marts are plain
  * SELECTs) —
  * here the equivalent posture is: [[graft.GraftSession.registerViews]]
  * registers the staging tables as temp views together with the graft SQL
  * functions ([[graft.GraftExtensions]]), this object adds the flagship
  * operator outputs as further views, and every curation/dedup/text
  * pipeline becomes composable `spark.sql` — no Scala API in sight.
  *
  * Views are LAZY DataFrames: registering costs nothing; a SQL query
  * over `near_dup_pairs` plans the same inverted-index join the Scala
  * call sites get, with Catalyst free to push filters/prune columns into
  * it. At cluster scale the same registrations would be `CREATE VIEW`
  * over the catalog — nothing else changes.
  */
object SqlSurface {

  /** Register the flagship operator outputs as views over the staging
    * tables (call after [[graft.GraftSession.registerViews]]):
    *
    *  - `doc_quality`    — per-doc quality metrics (q29's operator)
    *  - `doc_lang`       — per-doc n-gram language ID (q28)
    *  - `doc_tokens`     — per-doc token counts (q30)
    *  - `near_dup_pairs` — exact 3-gram Jaccard ≥ 0.5 pairs (q22)
    *  - `dup_clusters`   — connected components + survivor flag (q36)
    *
    * Each is the SAME plan the Scala API produces — SQL over these views
    * composes with pushdown into the operator plans.
    */
  def registerCapabilities(spark: SparkSession, sfDir: String,
      n: Int = 3, jaccard: Double = 0.5): Unit = {
    val docs = Tables.documents(spark, sfDir)
    TextAnalysis.qualityMetrics(docs, "text")
      .createOrReplaceTempView("doc_quality")
    docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"))
      .createOrReplaceTempView("doc_lang")
    TextAnalysis.tokenCounts(docs, "text")
      .createOrReplaceTempView("doc_tokens")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit(1), n, jaccard)
    pairs.createOrReplaceTempView("near_dup_pairs")
    Dedup.duplicateClusters(docs.select(col("doc_id")), "doc_id",
        pairs.select(col("id_a"), col("id_b")))
      .createOrReplaceTempView("dup_clusters")
  }

  /** Register the governance/linkage AUDIT operators as views (call after
    * [[graft.GraftSession.registerViews]]) — the reference's sql/
    * posture extended to the engine's own quality loop:
    *
    *  - `lsh_band_audit` — per-band-config recall/precision vs exact
    *    Jaccard truth (q139's operator); `SELECT ... WHERE recall_ppm >=
    *    floor ORDER BY n_candidates LIMIT 1` IS the production config
    *    chooser ([[Dedup.recommendBandConfig]]).
    *  - `er_audit`       — per-threshold linkage precision/recall +
    *    blocking pair-completeness (q138's operator, over `part` names).
    *  - `k_anonymity`    — per-k QI equivalence classes/rows below k
    *    (q140's operator, over document (source, lang, length-bucket)).
    *  - `l_diversity` / `t_closeness` — the homogeneity and skew
    *    follow-up audits (q144/q145's operators).
    *  - `label_outliers` — per-label embedding centroid-distance
    *    outlier ranking (q146's operator).
    *  - `mixture_waterfill` — token-budget mixture allocation across
    *    sources (q147's operator).
    *  - `event_value_permilles` — exact integer-interpolated p50/p90/p99
    *    of event values per type, micro-units (the orderStatsPermille
    *    primitive behind every exact-percentile query).
    *  - `leakage_split`  — cluster-aware train/val/test split audit with
    *    both leak counters (q149's operator).
    *  - `oov_audit`      — eval OOV token rate under top-V train
    *    vocabularies (q150's operator).
    *  - `dup_modularity` — duplication assortativity by source over the
    *    near-dup graph (q151's operator).
    *  - `pq_distortion`  — PQ ADC top-k + per-query distance-field
    *    correlation (q153's operator).
    *
    * Same lazy-DataFrame posture as [[registerCapabilities]]: each view
    * is the operator's own plan; nothing runs at registration.
    */
  def registerAudits(spark: SparkSession, sfDir: String,
      lshK: Int = 16, lshBands: Seq[Int] = Seq(1, 2, 4, 8),
      jaccard: Double = 0.5,
      erThresholds: Seq[Long] = Seq(800000L, 900000L, 950000L, 990000L, 1000000L),
      anonymityKs: Seq[Long] = Seq(2L, 5L, 10L)): Unit = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.lshBandAudit(docs, "doc_id", "text", n = 3, threshold = jaccard,
        k = lshK, bandConfigs = lshBands,
        tokenHasher = Dedup.auditableTokenHash)
      .createOrReplaceTempView("lsh_band_audit")
    Blocking.erAudit(
        Tables.part(spark, sfDir)
          .select(col("p_partkey").as("id"), col("p_name").as("name")),
        thresholds = erThresholds)
      .createOrReplaceTempView("er_audit")
    Privacy.kAnonymityAudit(docs,
        qi = Seq(col("source"), col("lang"),
          floor(col("n_chars") / lit(500)).as("len_bucket")),
        ks = anonymityKs)
      .createOrReplaceTempView("k_anonymity")
    Privacy.lDiversityAudit(docs,
        qi = Seq(col("lang"), floor(col("n_chars") / lit(100)).as("len_bucket")),
        sensitive = col("source"), ls = Seq(5L, 10L, 15L))
      .createOrReplaceTempView("l_diversity")
    Privacy.tClosenessAudit(docs,
        qi = Seq(col("lang"), floor(col("n_chars") / lit(100)).as("len_bucket")),
        sensitive = col("source"),
        thresholdsPpm = Seq(300000L, 500000L, 700000L))
      .createOrReplaceTempView("t_closeness")
    Similarity.labelOutlierAudit(Tables.embeddings(spark, sfDir),
        idCol = "vec_id", vecCol = "embedding", labelCol = "label", topK = 3)
      .createOrReplaceTempView("label_outliers")
    val tokPairs = docs
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    Sampling.tokenBudgetWaterfill(
        tokPairs.groupBy(col("source"))
          .agg(sum(col("c")).as("avail"), count(lit(1)).as("w")),
        "source", "avail", "w", budgetMilli = 500, epochsMilli = 550)
      .createOrReplaceTempView("mixture_waterfill")
    Stats.orderStatsPermille(Tables.events(spark, sfDir), col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 3))
          * lit(1000)).cast("long"),
        permilles = Seq(500, 900, 990), bandWidth = 50000L)
      .withColumnRenamed("g", "event_type")
      .createOrReplaceTempView("event_value_permilles")
    // Round-9 additions — the split/vocabulary/assortativity/compression
    // loop (q149-q151, q153):
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit(1), 3,
        jaccard)
      .select(col("id_a"), col("id_b"))
    Sampling.clusterSplitAudit(
        Dedup.duplicateClusters(docs.select(col("doc_id")), "doc_id", pairs),
        pairs)
      .createOrReplaceTempView("leakage_split")
    TextAnalysis.oovAudit(docs, "doc_id", "text",
        vocabSizes = Seq(100, 1000, 10000))
      .createOrReplaceTempView("oov_audit")
    graft.operators.Graphs.partitionModularity(pairs,
        docs.select(col("doc_id").as("id"), col("source").as("part")))
      .withColumnRenamed("part", "source")
      .createOrReplaceTempView("dup_modularity")
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.pqDistortionAudit(emb, emb.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5)
      .createOrReplaceTempView("pq_distortion")
    // Round-10 additions — storage-side ANN + cardinality reads (q170,
    // q172):
    Similarity.matryoshkaAudit(emb, emb.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding")
      .createOrReplaceTempView("matryoshka_audit")
    Similarity.sq8DistortionAudit(emb, emb.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding")
      .createOrReplaceTempView("sq8_distortion")
    graft.operators.Frequency.hllCardinalityAudit(
        docs.select(col("source"), explode(TextAnalysis.wordGrams(
          TextAnalysis.tokens(col("text")), 3)).as("shingle")),
        col("source"), col("shingle"), p = 8)
      .createOrReplaceTempView("hll_cardinality")
    graft.operators.Frequency.hllOverlapMatrix(
        docs.select(col("source"), explode(TextAnalysis.wordGrams(
          TextAnalysis.tokens(col("text")), 3)).as("shingle")),
        col("source"), col("shingle"), p = 8)
      .createOrReplaceTempView("hll_overlap")
    graft.operators.Frequency.hllCardinalitySeries(
        docs.select(col("source"), (col("doc_id") % 3).as("batch"),
          explode(TextAnalysis.wordGrams(
            TextAnalysis.tokens(col("text")), 3)).as("shingle")),
        col("source"), col("batch"), col("shingle"), p = 8)
      .createOrReplaceTempView("hll_series")
    graft.operators.Frequency.exactDeltaSeries(
        docs.select(col("source"), (col("doc_id") % 3).as("batch"),
          explode(TextAnalysis.wordGrams(
            TextAnalysis.tokens(col("text")), 3)).as("shingle")),
        col("source"), col("batch"), col("shingle"))
      .withColumnRenamed("grp", "source")
      .createOrReplaceTempView("vocab_delta")
    graft.operators.Frequency.cmJoinSizeAudit(
        Tables.lineitem(spark, sfDir),
        when(col("l_returnflag") === "R", col("l_partkey")),
        when(col("l_returnflag") === "N", col("l_partkey")))
      .createOrReplaceTempView("cm_join_size")
    graft.operators.Skew.reshardAudit(
        Tables.lineitem(spark, sfDir),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")),
        oldShards = 8, newShards = 9)
      .createOrReplaceTempView("reshard_audit")
    graft.operators.Skew.ringBalance(
        Tables.lineitem(spark, sfDir),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")),
        shards = 9, vnodeOptions = Seq(1, 16))
      .createOrReplaceTempView("ring_balance")
    locally {
      val toks = TextAnalysis.tokens(col("text"))
      def idiv(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ((a - pmod(a, b)) / b).cast("long")
      Stats.rrfFusion(docs, col("doc_id"),
          Seq(("chars", col("n_chars").cast("long"), 64L),
            ("distinct_ppm",
              idiv(size(array_distinct(toks)).cast("long") * 1000000L,
                size(toks).cast("long")), 16384L),
            ("toklen_milli",
              idiv(aggregate(toks, lit(0L), (acc, t) => acc + length(t)) *
                1000L, size(toks).cast("long")), 256L)),
          k = 60)
        .createOrReplaceTempView("rrf_fusion")
    }
    graft.operators.Validators.fdAudit(
        Tables.orders(spark, sfDir),
        Seq(("o_orderkey", "o_custkey"),
          ("o_custkey", "o_orderstatus"),
          ("o_orderdate", "o_orderpriority")))
      .createOrReplaceTempView("fd_audit")
    Sampling.purgedSplitAudit(
        Tables.events(spark, sfDir), col("ts"), col("user_id"),
        boundary = "2024-01-22 00:00:00", embargoHours = 6)
      .createOrReplaceTempView("purged_split")
    graft.operators.TimeSeries.pointInTimeFeatures(
        Tables.events(spark, sfDir), col("ts"), col("user_id"),
        col("value"), col("event_type"),
        boundary = "2024-01-22 00:00:00", maxAgeDays = 29)
      .createOrReplaceTempView("pit_features")
    Stats.benfordAudit(Tables.orders(spark, sfDir), col("o_totalprice"))
      .createOrReplaceTempView("benford_audit")
    graft.operators.Validators.partitionChecksum(
        Tables.events(spark, sfDir), col("ts").cast("date"),
        Seq(("id", col("event_id")), ("ts", unix_micros(col("ts"))),
          ("u", col("user_id")), ("t", col("event_type")),
          ("v", (col("value").cast(org.apache.spark.sql.types
            .DecimalType(18, 6)) * lit(1000000)).cast("long")),
          ("p", col("props"))))
      .createOrReplaceTempView("partition_checksum")
    graft.operators.Frequency.associationRules(
        Tables.events(spark, sfDir),
        concat(col("user_id").cast("string"), lit(":"),
          col("ts").cast("date").cast("string")),
        col("event_type"))
      .createOrReplaceTempView("assoc_rules")
    locally {
      val ev = Tables.events(spark, sfDir)
      val day = col("ts").cast("date")
      def manifest(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Validators.partitionChecksum(df, day,
          Seq(("id", col("event_id")), ("ts", unix_micros(col("ts"))),
            ("u", col("user_id")), ("t", col("event_type")),
            ("v", (col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 6)) * lit(1000000)).cast("long")),
            ("p", col("props"))))
      val perturbed = ev
        .filter(day =!= lit("2024-01-09").cast("date") &&
          !(day === lit("2024-01-22").cast("date") &&
            pmod(col("event_id"), lit(3L)) === 0))
        .withColumn("value",
          when(day === lit("2024-01-17").cast("date"),
            col("value") + 10.0).otherwise(col("value")))
      graft.operators.Validators.manifestDiff(manifest(ev),
          manifest(perturbed))
        .createOrReplaceTempView("manifest_diff")
      def manifestF(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Validators.partitionChecksumFields(df, day,
          Seq(("id", col("event_id")), ("ts", unix_micros(col("ts"))),
            ("u", col("user_id")), ("t", col("event_type")),
            ("v", (col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 6)) * lit(1000000)).cast("long")),
            ("p", col("props"))))
      graft.operators.Validators.manifestDiffFields(manifestF(ev),
          manifestF(perturbed), Seq("id", "ts", "u", "t", "v", "p"))
        .createOrReplaceTempView("manifest_field_diff")
    }
    Dedup.similaritySpectrum(docs, "doc_id", "text", lit(1), n = 3)
      .createOrReplaceTempView("similarity_spectrum")
    // Round-10 curation reads: the growth/chunking/diversity family.
    TextAnalysis.vocabGrowth(docs, "doc_id", "text", n = 3)
      .createOrReplaceTempView("vocab_growth")
    TextAnalysis.ragChunks(docs, "doc_id", "text")
      .createOrReplaceTempView("rag_chunks")
    Sampling.mixtureDiversity(docs, col("source"), col("lang"))
      .withColumnRenamed("grp", "source")
      .createOrReplaceTempView("mixture_diversity")
    TextAnalysis.boilerplateAudit(docs, "doc_id", "text")
      .createOrReplaceTempView("boilerplate_audit")
    TextAnalysis.chunkDedupAudit(docs, "doc_id", "text",
        window = 32, stride = 24)
      .createOrReplaceTempView("chunk_dedup")
    TextAnalysis.passageLeakAudit(docs, "doc_id", "text")
      .createOrReplaceTempView("passage_leak")
    Stats.giniByGroup(docs.select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("v")),
        col("source"), col("v"), bandWidth = 50L)
      .withColumnRenamed("g", "source")
      .createOrReplaceTempView("length_gini")
    // The q131 rule frame as a view: gate_rules carries the per-doc
    // booleans, so the q179 ablation AND any custom rule analysis are
    // plain SQL aggregations over it.
    locally {
      val quality = TextAnalysis.qualityMetrics(
          docs.select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("n_tokens"), col("mean_token_len"),
          col("stopword_ratio"))
      val rep = TextAnalysis.repetitionStats(
          docs.select(col("doc_id"), col("text")), "doc_id", "text", n = 2)
        .select(col("id").as("doc_id"), col("rep_ratio"))
      quality.join(rep, Seq("doc_id"))
        .select(col("doc_id"),
          (col("n_tokens") >= 30 && col("n_tokens") <= 100000).as("r_len"),
          (col("mean_token_len") >= 4.3 && col("mean_token_len") <= 10.0)
            .as("r_word"),
          (col("stopword_ratio") >= 0.06).as("r_stop"),
          (col("rep_ratio") <= 0.05).as("r_rep"))
        .createOrReplaceTempView("gate_rules")
    }
  }

  /** Register the MULTIMODAL dedup/triage family as views (call after
    * [[graft.GraftSession.registerViews]]) — the q160–q169 surface for
    * SQL consumers:
    *
    *  - `image_dhash`          — per-image 56-bit perceptual hash (q161)
    *  - `image_neardup_pairs`  — dHash Hamming ≤ 3 pairs (q164)
    *  - `audio_fingerprints`   — 56-bit energy-difference prints (q165)
    *  - `audio_neardup_pairs`  — fingerprint Hamming ≤ 3 pairs (q166)
    *  - `video_motion`         — per-clip motion triage (q168)
    *  - `crossmodal_clusters`  — text ∪ image pair closure (q169)
    *
    * Views ride the synthetic media tables here (the corpus has no real
    * blobs); a deployment re-points the three `synthetic*Table` calls at
    * its media table and keeps every view definition. Same lazy posture
    * as [[registerCapabilities]] — nothing runs at registration.
    */
  def registerMultimodal(spark: SparkSession, sfDir: String,
      imageMaxHamming: Int = 3, audioMaxHamming: Int = 3,
      jaccard: Double = 0.5): Unit = {
    implicit val s: SparkSession = spark
    val docs = Tables.documents(spark, sfDir)
    val ids = docs.select(col("doc_id"))
    val dhash = Multimodal.imageDhash(
      Multimodal.syntheticPngTable(ids, "doc_id")).toDF()
    dhash.createOrReplaceTempView("image_dhash")
    val imagePairs = Dedup.hammingNearDupPairs(dhash, "media_id",
      col("dhash"), imageMaxHamming)
    imagePairs.createOrReplaceTempView("image_neardup_pairs")
    val fps = Multimodal.audioFingerprints(
      Multimodal.syntheticWavVariantTable(ids, "doc_id")).toDF()
    fps.createOrReplaceTempView("audio_fingerprints")
    Dedup.hammingNearDupPairs(fps, "media_id", col("fp"), audioMaxHamming)
      .createOrReplaceTempView("audio_neardup_pairs")
    Multimodal.videoMotionStats(Multimodal.syntheticAviTable(ids, "doc_id"))
      .toDF().createOrReplaceTempView("video_motion")
    val textPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit(1),
        3, jaccard)
      .select(col("id_a"), col("id_b"))
    Dedup.duplicateClusters(ids, "doc_id",
        textPairs.union(imagePairs.select(col("id_a"), col("id_b"))))
      .createOrReplaceTempView("crossmodal_clusters")
  }
}
