package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.sql.SqlSurface

/** The SQL surface end to end: staging tables + capability views +
  * injected functions make the flagship pipelines expressible as PURE
  * `spark.sql` — each test runs one pipeline twice, once through SQL and
  * once through the Scala operator API, and asserts identical results.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  /** A session of its own over the shared context, with tables, graft
    * functions and capabilities registered.
    */
  private lazy val sql: SparkSession = {
    val s = SharedSpark.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 8)
    GraftSession.registerViews(s, sfDir)
    SqlSurface.registerCapabilities(s, sfDir)
    SqlSurface.registerAudits(s, sfDir)
    SqlSurface.registerMultimodal(s, sfDir)
    s
  }

  test("curation pipeline in pure SQL: quality gate ∘ dedup survivors") {
    val viaSql = sql.sql(
      """SELECT q.doc_id
        |FROM doc_quality q JOIN dup_clusters c ON q.doc_id = c.id
        |WHERE c.is_survivor AND q.quality_pass AND q.n_chars >= 100
        |ORDER BY q.doc_id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    val docs = Tables.documents(sql, sfDir)
    val pairs = graft.operators.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", lit(1), 3, 0.5)
    val viaApi = graft.operators.TextAnalysis.qualityMetrics(docs, "text")
      .filter(col("quality_pass") && col("n_chars") >= 100)
      .join(graft.operators.Dedup
          .duplicateClusters(docs.select(col("doc_id")), "doc_id",
            pairs.select(col("id_a"), col("id_b")))
          .filter(col("is_survivor")).select(col("id").as("doc_id")),
        Seq("doc_id"))
      .orderBy(col("doc_id")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
  }

  test("dedup report in pure SQL: cluster-size histogram") {
    val viaSql = sql.sql(
      """SELECT cluster_size, COUNT(*) AS n_clusters FROM (
        |  SELECT cluster_root, COUNT(*) AS cluster_size
        |  FROM dup_clusters GROUP BY cluster_root)
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql.nonEmpty)
    // Memberships partition the corpus: Σ size·count = |documents|.
    val total = viaSql.map { case (s, c) => s * c }.sum
    assert(total === Tables.documents(sql, sfDir).count())
  }

  test("fuzzy linkage in pure SQL: blocked jaro_winkler scoring (q119's pipeline)") {
    val viaSql = sql.sql(
      """WITH p AS (SELECT p_partkey AS id, p_name AS name,
        |    split(p_name, ' ')[0] AS blk FROM part)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(FLOOR(jaro_winkler(a.name, b.name) * 1000000.0 + 0.5) AS BIGINT) AS jw_micro
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |WHERE jaro_winkler(a.name, b.name) >= 0.8
        |ORDER BY jw_micro DESC, id_a, id_b LIMIT 20""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val p = Tables.part(sql, sfDir)
      .select(col("p_partkey").as("id"), col("p_name").as("name"))
      .withColumn("blk", split(col("name"), " ").getItem(0))
    val viaApi = p.select(col("blk"), col("id").as("id_a"), col("name").as("name_a"))
      .join(p.select(col("blk"), col("id").as("id_b"), col("name").as("name_b")), Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jw_micro", graft.operators.Stats.micro(
        graft.functions.JaroWinklerSim.jaro_winkler(col("name_a"), col("name_b")))
        .cast("long"))
      .filter(col("jw_micro") >= 800000L)
      .orderBy(col("jw_micro").desc, col("id_a"), col("id_b")).limit(20)
      .select(col("id_a"), col("id_b"), col("jw_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
  }

  test("band chooser in pure SQL: the audit view + WHERE/ORDER/LIMIT is recommendBandConfig") {
    val viaSql = sql.sql(
      """SELECT bands, rows_per_band, n_candidates, n_true, n_recovered,
        |  recall_ppm, precision_ppm
        |FROM lsh_band_audit WHERE recall_ppm >= 500000
        |ORDER BY n_candidates, bands LIMIT 1""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val viaApi = graft.operators.Dedup.recommendBandConfig(
        graft.operators.Dedup.lshBandAudit(Tables.documents(sql, sfDir),
          "doc_id", "text", n = 3, threshold = 0.5, k = 16,
          bandConfigs = Seq(1, 2, 4, 8),
          tokenHasher = graft.operators.Dedup.auditableTokenHash),
        recallFloorPpm = 500000L)
      .collect().map(_.toSeq).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
  }

  test("linkage audit in pure SQL: er_audit threshold row matches the operator") {
    val viaSql = sql.sql(
      """SELECT threshold, n_candidates, truth_in_candidates, n_truth,
        |  n_predicted, tp, fp, fn, precision_ppm, recall_ppm
        |FROM er_audit WHERE threshold = 950000""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val viaApi = graft.operators.Blocking.erAudit(
        Tables.part(sql, sfDir)
          .select(col("p_partkey").as("id"), col("p_name").as("name")),
        thresholds = Seq(800000L, 900000L, 950000L, 990000L, 1000000L))
      .filter(col("threshold") === 950000L)
      .collect().map(_.toSeq).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
  }

  test("k-anonymity in pure SQL: governance gate as a WHERE clause") {
    val viaSql = sql.sql(
      """SELECT k, n_classes, n_rows, classes_below_k, rows_below_k, rows_below_ppm
        |FROM k_anonymity WHERE rows_below_ppm > 0 ORDER BY k""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val viaApi = graft.operators.Privacy.kAnonymityAudit(
        Tables.documents(sql, sfDir),
        qi = Seq(col("source"), col("lang"),
          floor(col("n_chars") / lit(500)).as("len_bucket")),
        ks = Seq(2L, 5L, 10L))
      .filter(col("rows_below_ppm") > 0).orderBy(col("k"))
      .collect().map(_.toSeq).toSeq
    assert(viaSql === viaApi)
  }

  test("l-diversity and t-closeness in pure SQL: the q144/q145 audits as views") {
    val ld = sql.sql(
      """SELECT l, classes_below_l, rows_below_ppm
        |FROM l_diversity ORDER BY l""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val ldApi = graft.operators.Privacy.lDiversityAudit(
        Tables.documents(sql, sfDir),
        qi = Seq(col("lang"), floor(col("n_chars") / lit(100)).as("len_bucket")),
        sensitive = col("source"), ls = Seq(5L, 10L, 15L))
      .select(col("l"), col("classes_below_l"), col("rows_below_ppm"))
      .orderBy(col("l")).collect().map(_.toSeq).toSeq
    assert(ld.nonEmpty && ld === ldApi)
    val tc = sql.sql(
      """SELECT t_ppm, max_tvd_ppm, classes_above_t
        |FROM t_closeness ORDER BY t_ppm""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val tcApi = graft.operators.Privacy.tClosenessAudit(
        Tables.documents(sql, sfDir),
        qi = Seq(col("lang"), floor(col("n_chars") / lit(100)).as("len_bucket")),
        sensitive = col("source"),
        thresholdsPpm = Seq(300000L, 500000L, 700000L))
      .select(col("t_ppm"), col("max_tvd_ppm"), col("classes_above_t"))
      .orderBy(col("t_ppm")).collect().map(_.toSeq).toSeq
    assert(tc.nonEmpty && tc === tcApi)
  }

  test("label outliers and mixture waterfill in pure SQL: q146/q147 as views") {
    val lo = sql.sql(
      """SELECT label, rank, vec_id, ratio_ppm
        |FROM label_outliers WHERE rank = 1 ORDER BY label""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val loApi = graft.operators.Similarity.labelOutlierAudit(
        Tables.embeddings(sql, sfDir), "vec_id", "embedding", "label", topK = 3)
      .filter(col("rank") === 1)
      .select(col("label"), col("rank"), col("vec_id"), col("ratio_ppm"))
      .orderBy(col("label")).collect().map(_.toSeq).toSeq
    assert(lo.nonEmpty && lo === loApi)
    val mw = sql.sql(
      """SELECT source, allocated_tokens, capped
        |FROM mixture_waterfill ORDER BY source""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(mw.nonEmpty)
    // The waterfill invariant SQL consumers rely on: allocation never
    // exceeds the repeat cap, and capped rows sit exactly at it.
    sql.sql(
      """SELECT count(*) FROM mixture_waterfill
        |WHERE allocated_tokens > cap_tokens
        |   OR (capped AND allocated_tokens <> cap_tokens)""".stripMargin)
      .collect().map(_.getLong(0)).foreach(n => assert(n === 0L))
  }

  test("exact percentiles in pure SQL: event_value_permilles view") {
    val viaSql = sql.sql(
      """SELECT event_type, n, p500_x1000, p900_x1000, p990_x1000
        |FROM event_value_permilles ORDER BY event_type""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(viaSql.nonEmpty)
    // Monotone by construction: p50 <= p90 <= p99 within every type.
    viaSql.foreach { r =>
      assert(r(2).asInstanceOf[Long] <= r(3).asInstanceOf[Long])
      assert(r(3).asInstanceOf[Long] <= r(4).asInstanceOf[Long])
    }
  }

  test("ANN in pure SQL: dot_product cosine top-k over the embeddings view") {
    val viaSql = sql.sql(
      """WITH v AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 3),
        |s AS (SELECT q.query_id, v.vec_id AS neighbor_id,
        |    ROUND(dot_product(q.qe, v.e) /
        |      (SQRT(dot_product(q.qe, q.qe)) * SQRT(dot_product(v.e, v.e))), 4) AS cos_sim
        |  FROM q JOIN v ON v.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, cos_sim, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s)
        |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val emb = Tables.embeddings(sql, sfDir)
    val viaApi = graft.operators.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 3)
      .orderBy(col("query_id"), col("rank"))
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
  }

  test("split/vocabulary/modularity/PQ audits in pure SQL: q149-q151, q153 as views") {
    // leakage_split: the structural zero-leak guarantee as a WHERE gate,
    // and the naive counter it replaces exposed alongside.
    val ls = sql.sql(
      """SELECT split, n_docs, n_clusters, leak_pairs_cluster, leak_pairs_naive
        |FROM leakage_split ORDER BY split""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(ls.nonEmpty)
    ls.foreach(r => assert(r(3).asInstanceOf[Long] === 0L))
    // oov_audit: the vocabulary curve is monotone — a bigger vocabulary
    // can only lower OOV.
    val oov = sql.sql(
      """SELECT vocab_size, n_oov FROM oov_audit ORDER BY vocab_size""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(oov.nonEmpty)
    oov.sliding(2).foreach {
      case Seq((_, a), (_, b)) => assert(b <= a)
      case _ =>
    }
    // dup_modularity: per-source contributions sum close to the global Q
    // (each row floors independently, so equality holds within |rows|).
    val dm = sql.sql(
      """SELECT sum(contrib_ppb) AS s, any_value(modularity_ppb) AS q,
        |  count(*) AS k FROM dup_modularity""".stripMargin).collect()
    dm.foreach { r =>
      if (!r.isNullAt(0))
        assert(math.abs(r.getLong(0) - r.getLong(1)) <= r.getLong(2))
    }
    // pq_distortion: the quantization-quality gate as a WHERE clause —
    // zero rows below the floor, and the view agrees with the operator.
    val bad = sql.sql("SELECT count(*) FROM pq_distortion WHERE NOT distortion_ok")
      .collect().head.getLong(0)
    assert(bad === 0L)
    val pq = sql.sql(
      """SELECT query_id, rank, neighbor_id, adc_micro, corr_micro
        |FROM pq_distortion ORDER BY query_id, rank""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val emb2 = Tables.embeddings(sql, sfDir)
    val pqApi = graft.operators.Similarity.pqDistortionAudit(
        emb2, emb2.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_micro"), col("corr_micro"))
      .collect().map(_.toSeq).toSeq
    assert(pq.nonEmpty && pq === pqApi)
  }

  test("storage-side ANN + cardinality in pure SQL: q170/q172 as views") {
    // matryoshka_audit: the per-k truncation gate as a WHERE clause —
    // the bug-floor contract is that NOTHING lands near zero correlation.
    val ma = sql.sql(
      """SELECT k, query_id, corr_micro, min_corr_micro, trunc_ok
        |FROM matryoshka_audit ORDER BY k, query_id""".stripMargin)
      .collect()
    assert(ma.nonEmpty)
    assert(ma.forall(r => !r.isNullAt(2)), "corr must be defined on the fixture")
    val below = sql.sql(
      "SELECT count(*) FROM matryoshka_audit WHERE NOT trunc_ok")
      .collect().head.getLong(0)
    assert(below === 0L)
    // Wider prefixes must correlate better in aggregate: the mean over
    // queries is monotone in k on any non-adversarial corpus.
    val byK = sql.sql(
      """SELECT k, avg(corr_micro) AS m FROM matryoshka_audit
        |GROUP BY k ORDER BY k""".stripMargin)
      .collect().map(_.getDouble(1)).toSeq
    byK.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a)
      case _ =>
    }
    // hll_cardinality: registers are replayable state — the derived
    // columns recompute from the vector INSIDE SQL, and the audit's
    // exact_distinct bounds are structural (distinct <= instances).
    val hc = sql.sql(
      """SELECT grp, n_keys, exact_distinct, zero_regs, rank_sum, s_scaled,
        |  aggregate(registers, CAST(0 AS BIGINT), (a, x) -> a + x) AS rs2,
        |  size(filter(registers, x -> x = 0)) AS zr2
        |FROM hll_cardinality ORDER BY grp""".stripMargin).collect()
    assert(hc.nonEmpty)
    hc.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(4) === r.getLong(r.fieldIndex("rs2")))
      assert(r.getLong(3) === r.getInt(r.fieldIndex("zr2")).toLong)
    }
    // hll_series: the registers-only production series. Within each
    // source the cumulative estimate is monotone in batch and bounds the
    // batch's own estimate (crnk >= rnk element-wise); and the LAST
    // batch's cumulative registers are exactly hll_cardinality's
    // whole-corpus vector for that source — the fold-of-batches ==
    // one-shot-aggregate identity that makes the sketch replay-safe.
    val hs = sql.sql(
      """SELECT grp, batch, registers_csv, cum_est_milli, batch_est_milli
        |FROM hll_series ORDER BY grp, batch""".stripMargin).collect()
    assert(hs.nonEmpty)
    hs.groupBy(_.getString(0)).foreach { case (_, rows) =>
      rows.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a <= b)
        case _ =>
      }
    }
    hs.foreach(r => assert(r.getLong(4) <= r.getLong(3)))
    val lastCsv = hs.groupBy(_.getString(0)).map { case (g, rows) =>
      g -> rows.maxBy(_.getLong(1)).getString(2)
    }
    val fullCsv = sql.sql(
      """SELECT grp, array_join(CAST(registers AS ARRAY<STRING>), ',')
        |FROM hll_cardinality""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lastCsv === fullCsv)
    // vocab_delta ⋈ hll_cardinality: the exact series' final cumulative
    // vocabulary IS the whole-corpus exact_distinct (same gram stream,
    // two independent operators) — and the sketch series' last estimate
    // already matched the one-shot registers above. Sketch and exact
    // audit close over each other.
    val vdLast = sql.sql(
      """SELECT source, max_by(vocab_cum, batch) FROM vocab_delta
        |GROUP BY source""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hcExact = sql.sql("SELECT grp, exact_distinct FROM hll_cardinality")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vdLast === hcExact)
    // reshard_audit: Karger's promise measured — mod-hash placement
    // moves ~old/new of keys (888889 ppm for 8→9), the ring only the
    // claimed arc (~111111 ppm); the fixture's md5 positions land within
    // a tight band of both.
    val ra = sql.sql(
      """SELECT n_keys, moved_mod_ppm, moved_ring_ppm FROM reshard_audit""")
      .collect().head
    assert(ra.getLong(2) < ra.getLong(1))
    assert(math.abs(ra.getLong(1) - 888889L) < 60000L, s"mod=${ra.getLong(1)}")
    assert(math.abs(ra.getLong(2) - 111111L) < 60000L, s"ring=${ra.getLong(2)}")
    // ring_balance: the tradeoff's other half — mod balances best, a
    // 1-vnode ring worst, 16 vnodes in between; every strategy places
    // every row (n_rows equal across strategies).
    val rb = sql.sql(
      """SELECT strategy, n_rows, max_over_mean_ppm FROM ring_balance""")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(rb.keySet === Set("mod", "ring_v1", "ring_v16"))
    assert(rb.values.map(_._1).toSet.size === 1)
    assert(rb("mod")._2 < rb("ring_v16")._2)
    assert(rb("ring_v16")._2 < rb("ring_v1")._2)
    // rrf_fusion: the fused score must be EXACTLY the fold of its own
    // rank columns (both are exact integers — the view is self-auditing),
    // some doc holds rank 1 per signal, and ranks never exceed the corpus.
    val rrf = sql.sql(
      """SELECT rank_chars, rank_distinct_ppm, rank_toklen_milli, rrf_nano
        |FROM rrf_fusion""".stripMargin).collect()
    val nDocs = rrf.length.toLong
    assert(nDocs > 0)
    rrf.foreach { r =>
      val ranks = Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      assert(ranks.forall(rk => rk >= 1 && rk <= nDocs))
      assert(r.getLong(3) === ranks.map(rk => 1000000000L / (60L + rk)).sum)
    }
    assert(Seq(0, 1, 2).forall(i => rrf.exists(_.getLong(i) === 1L)))
    // fd_audit: the PK dependency holds, the denormalized ones don't,
    // and `holds` is definitionally violating_groups == 0.
    val fd = sql.sql(
      """SELECT lhs, violating_groups, holds FROM fd_audit""").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(fd("o_orderkey") === ((0L, true)))
    assert(fd("o_custkey")._1 > 0 && !fd("o_custkey")._2)
    assert(fd.values.forall { case (v, h) => h === (v == 0L) })
    // purged_split: structural invariants — embargoed train rows are a
    // subset of train, leaky eval a subset of eval, and an entity active
    // in the embargo window exists iff some eval row leaks on this
    // fixture (the stream has continuous per-user activity).
    val ps = sql.sql(
      """SELECT n_train, n_eval, n_embargo_train, n_embargo_keys,
        |  n_eval_leaky FROM purged_split""".stripMargin).collect().head
    assert(ps.getLong(2) >= 0 && ps.getLong(2) <= ps.getLong(0))
    assert(ps.getLong(4) >= 0 && ps.getLong(4) <= ps.getLong(1))
    assert((ps.getLong(3) > 0) === (ps.getLong(4) > 0))
    // pit_features: point-in-time correctness cross-checked against the
    // split audit it feeds — Σ n_events over entities must equal the
    // audit's n_train exactly (same boundary, same null-ts filter), and
    // the decay weight is bounded by n_events·2^29.
    val pit = sql.sql(
      """SELECT n_events, last_age_min, recency_weight FROM pit_features""")
      .collect()
    assert(pit.map(_.getLong(0)).sum === ps.getLong(0))
    pit.foreach { r =>
      assert(r.getLong(1) >= 0)
      assert(r.getLong(2) >= 0 &&
        r.getLong(2) <= r.getLong(0) * (1L << 29))
    }
    // benford_audit: all 9 digits always present, counts conserve the
    // total, and the synthetic uniform prices must read NON-Benford
    // (max deviation far beyond organic noise).
    val bf = sql.sql(
      """SELECT digit, n, n_rows, abs_dev_ppm FROM benford_audit""")
      .collect()
    assert(bf.map(_.getLong(0)).sorted === (1L to 9L).toArray)
    assert(bf.map(_.getLong(1)).sum === bf.head.getLong(2))
    assert(bf.map(_.getLong(3)).max > 50000L)
    // partition_checksum: the manifest's counts conserve the table, and
    // every day carries a checksum (xor of 60-bit hashes).
    val pc = sql.sql(
      """SELECT part, n_rows, xor_checksum FROM partition_checksum""")
      .collect()
    assert(pc.map(_.getLong(1)).sum ===
      sql.sql("SELECT COUNT(*) FROM events").collect().head.getLong(0))
    assert(pc.forall(r => r.getLong(1) > 0))
    // assoc_rules: the view is self-auditing — every rule's confidence
    // and lift must be EXACTLY the fixed-point fold of its own support
    // columns, and pair support can never exceed either side's.
    val ar = sql.sql(
      """SELECT supp_a, supp_b, supp_ab, n_baskets,
        |  conf_a_to_b_ppm, conf_b_to_a_ppm, lift_milli FROM assoc_rules"""
        .stripMargin).collect()
    assert(ar.nonEmpty)
    ar.foreach { r =>
      val (sa, sb, sab, n) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(sab >= 1 && sab <= math.min(sa, sb) && math.max(sa, sb) <= n)
      assert(r.getLong(4) === sab * 1000000L / sa)
      assert(r.getLong(5) === sab * 1000000L / sb)
      assert(r.getLong(6) ===
        (BigInt(sab) * n * 1000 / (BigInt(sa) * sb)).toLong)
    }
    // manifest_diff: the planted perturbations surface as exactly one
    // status each, everything else matches.
    val md = sql.sql("""SELECT part, status FROM manifest_diff""")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(md("2024-01-09") === "missing_right")
    assert(md("2024-01-22") === "count_mismatch")
    assert(md("2024-01-17") === "checksum_mismatch")
    assert(md.values.count(_ == "match") === md.size - 3)
    // manifest_field_diff: same statuses, plus attribution — the
    // value-shift day names exactly the drifted column ("v"); matches
    // attribute to '' and non-comparable partitions to NULL.
    val mfd = sql.sql(
      """SELECT part, status, drifted_fields FROM manifest_field_diff""")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(mfd.view.mapValues(_._1).toMap === md)
    assert(mfd("2024-01-17")._2 === "v")
    assert(mfd("2024-01-09")._2 === null && mfd("2024-01-22")._2 === null)
    assert(mfd.values.count { case (s, d) => s == "match" && d == "" } ===
      mfd.size - 3)
    // cm_join_size: the structural one-sided-error theorem must hold in
    // the view, and the estimate is a genuine bound (> 0 on this data).
    val cj = sql.sql(
      """SELECT exact_rows, cm_est, never_undercounts FROM cm_join_size""")
      .collect().head
    assert(cj.getBoolean(2) && cj.getLong(1) >= cj.getLong(0) && cj.getLong(0) > 0)
    // similarity_spectrum ⋈ near_dup_pairs: jac >= 0.5 ⟺ jac_ppm >=
    // 500000 exactly (floor cannot cross the boundary: floor(s·10⁶/u) >=
    // 5·10⁵ iff 2s >= u), so the decile >= 5 pair mass IS the near-dup
    // pair count — two views, one truth.
    val specPairs = sql.sql(
      """SELECT coalesce(sum(n_pairs), 0) FROM similarity_spectrum
        |WHERE decile >= 5""".stripMargin).collect().head.getLong(0)
    val ndPairs = sql.sql("SELECT count(*) FROM near_dup_pairs")
      .collect().head.getLong(0)
    assert(specPairs === ndPairs)
    // sq8_distortion: SQ8 is near-lossless on smooth embeddings — the
    // whole view must clear its gate.
    val sq8bad = sql.sql("SELECT count(*) FROM sq8_distortion WHERE NOT sq8_ok")
      .collect().head.getLong(0)
    assert(sq8bad === 0L)
  }

  test("growth/chunking/diversity reads in pure SQL: q173/q175/q176 as views") {
    // vocab_growth: prefixes nest, so every cumulative column is
    // monotone in the checkpoint fraction.
    val vg = sql.sql(
      """SELECT frac_milli, docs_cum, tokens_cum, vocab_cum
        |FROM vocab_growth ORDER BY frac_milli""".stripMargin)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(vg.nonEmpty)
    vg.sliding(2).foreach {
      case Seq((d1, t1, v1), (d2, t2, v2)) =>
        assert(d1 <= d2 && t1 <= t2 && v1 <= v2)
      case _ =>
    }
    // rag_chunks joins back to documents in SQL: every chunk's token
    // span sits inside its document (the last chunk ends exactly at the
    // token count), and chunk 0 exists for every doc.
    val rc = sql.sql(
      """SELECT d.doc_id,
        |  sum(CASE WHEN c.chunk_idx = 0 THEN 1 ELSE 0 END) AS heads,
        |  max(c.start_tok + c.n_tok) AS max_end,
        |  max(size(split(trim(lower(d.text)), '\\s+'))) AS n
        |FROM rag_chunks c JOIN documents d USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin).collect()
    assert(rc.nonEmpty)
    rc.foreach { r =>
      assert(r.getLong(1) === 1L)
      assert(r.getLong(2) === r.getInt(3).toLong)
    }
    // mixture_diversity: the Hill-number sandwich 1 <= 1/λ <= n_cats
    // holds for every group, in exact milli units.
    val md = sql.sql(
      """SELECT n_cats, effective_cats_milli FROM mixture_diversity""")
      .collect()
    assert(md.nonEmpty)
    md.foreach { r =>
      assert(r.getLong(1) >= 1000L && r.getLong(1) <= r.getLong(0) * 1000L)
    }
  }

  test("multimodal dedup in pure SQL: perceptual pairs, cross-modal survivors") {
    implicit val s: SparkSession = sql
    // image_neardup_pairs ≡ the Scala operator, driven through SQL with a
    // WHERE (exact perceptual dups only) — pushdown composes with the
    // decode plan.
    val viaSql = sql.sql(
      """SELECT id_a, id_b FROM image_neardup_pairs
        |WHERE hamming = 0 ORDER BY id_a, id_b""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = Tables.documents(sql, sfDir)
    val viaApi = graft.operators.Dedup.hammingNearDupPairs(
        graft.operators.Multimodal.imageDhash(
          graft.operators.Multimodal.syntheticPngTable(
            docs.select(col("doc_id")), "doc_id")).toDF(),
        "media_id", col("dhash"), maxHamming = 3)
      .filter(col("hamming") === 0)
      .orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
    // Cross-modal closure subsumes the text-only one: every text-pair
    // cluster is inside a crossmodal cluster, so survivors can only
    // DECREASE when the image channel merges clusters.
    val survivors = sql.sql(
      """SELECT (SELECT count(*) FROM dup_clusters WHERE is_survivor) AS text_only,
        |  (SELECT count(*) FROM crossmodal_clusters WHERE is_survivor) AS crossmodal
        |""".stripMargin).collect().head
    assert(survivors.getLong(1) <= survivors.getLong(0))
    assert(survivors.getLong(1) > 0)
    // The audio view family answers the production question directly:
    // which masters have re-encoded variants, straight off SQL.
    val audioDups = sql.sql(
      """SELECT count(*) FROM audio_neardup_pairs p
        |JOIN audio_fingerprints a ON p.id_a = a.media_id
        |JOIN audio_fingerprints b ON p.id_b = b.media_id
        |WHERE p.hamming <= 1""".stripMargin).collect().head.getLong(0)
    assert(audioDups > 0)
    // video_motion: the planted ramp moves every frame, so no clip in
    // this corpus is static — the triage gate must agree.
    val static = sql.sql(
      "SELECT count(*) FROM video_motion WHERE motion = 0")
      .collect().head.getLong(0)
    assert(static === 0L)
  }
}
