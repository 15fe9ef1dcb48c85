package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Blocking, Similarity}

/** Sorted-neighborhood blocking, hard-negative mining, semantic dedup. */
class LinkageSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("sortedNeighborhoodPairs: exact window pair set, band-invariant, partition-invariant") {
    val rows = Seq((1L, "aa"), (2L, "ab"), (3L, "ac"), (4L, "ba"),
      (5L, "bb"), (6L, "ca"))
    val df = rows.toDF("id", "k")
    def pairs(d: org.apache.spark.sql.DataFrame, w: Int, bc: Int = 1) =
      Blocking.sortedNeighborhoodPairs(d, "id", col("k"), w, bc)
        .select("id_a", "id_b", "dist").as[(Long, Long, Long)]
        .collect().toSet
    // Brute-force positional reference: sort by (k, id), all pairs ≤ w apart.
    def reference(w: Int) = {
      val sorted = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
      (for (i <- sorted.indices; j <- (i + 1) until math.min(i + w + 1, sorted.length))
        yield (sorted(i), sorted(j), (j - i).toLong)).toSet
    }
    for (w <- Seq(1, 2, 5)) {
      assert(pairs(df, w) === reference(w), s"window=$w")
      assert(pairs(df, w, bc = 2) === reference(w), s"window=$w bandChars=2")
      assert(pairs(df.repartition(5), w) === reference(w), s"window=$w repartitioned")
    }
    // Keys that tie sort by id — the (k, id) total order is the contract.
    val tied = Seq((9L, "xx"), (2L, "xx"), (5L, "xx")).toDF("id", "k")
    assert(pairs(tied, 1) === Set((2L, 5L, 1L), (5L, 9L, 1L)))
  }

  test("hardNegativesTopK: same-label lookalikes never occupy negative slots") {
    val emb = Seq(
      (0L, "A", Array(1.0f, 0.0f)),
      (1L, "A", Array(1.0f, 0.0f)),   // identical but same label: excluded
      (2L, "B", Array(0.9f, 0.1f)),
      (3L, "B", Array(0.0f, 1.0f)),
      (4L, "C", Array(0.8f, 0.2f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegativesTopK(
        emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", "label", k = 2)
      .orderBy("rank")
      .select("rank", "neighbor_id", "neighbor_label")
      .as[(Int, Long, String)].collect().toSeq
    // Nearest different-label: id 2 (B, cos .9939), then id 4 (C, .9701).
    assert(out === Seq((1, 2L, "B"), (2, 4L, "C")))
  }

  test("kCenterCoreset: farthest-first order, early exhaustion, partition invariance") {
    import graft.operators.Similarity
    def vec(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // Angles 0°, 10°, 90°, 180°: seed = min id (0°); farthest from it is
    // 180° (d=2); then 90° (min-dist 1.0 to both); then 10° (0.0152).
    val emb = Seq((1L, vec(0)), (2L, vec(10)), (3L, vec(90)), (4L, vec(180)))
      .toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame, k: Int) =
      Similarity.kCenterCoreset(df, "vec_id", "embedding", k)
        .orderBy("rank")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSeq
    val out = run(emb, 4)
    assert(out === Seq((0, 1L, None), (1, 4L, Some(20000L)),
      (2, 3L, Some(10000L)), (3, 2L, Some(152L))))
    // k caps, never promises: exact duplicates of the selected centers
    // are at quantized distance 0 and selection stops early.
    val dups = Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(180)), (4L, vec(180)))
      .toDF("vec_id", "embedding")
    assert(run(dups, 4).map(_._2) === Seq(1L, 3L))
    // Same sequence under repartitioning — the e4-quantization + id-tie claim.
    assert(run(emb.repartition(3), 4) === out)
  }

  test("semanticDedup: min-id representative, chain drops, cell isolation") {
    def vec(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // Only id 0 is a centroid (centroidEvery=100) → one cell. Angles:
    // id0 at 90°, id1 at 0°, id3 at 18°, id5 at 36°.
    val emb = Seq(
      (0L, vec(90)), (1L, vec(0)), (3L, vec(18)), (5L, vec(36))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
        centroidEvery = 100, threshold = 0.9)
      .orderBy("id")
      .select(col("id"), col("is_kept"), col("dup_of"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // cos(0°,18°)=.951 ≥ .9 → 3 drops to 1; cos(18°,36°)=.951 → 5 drops
    // to its SMALLEST similar mate (3 — itself dropped: the rule is
    // transitive-free by design); cos(0°,36°)=.809 < .9 keeps 5 off 1;
    // id 0 (90°) is dissimilar to everything and survives.
    assert(out === Array((0L, true, -1L), (1L, true, -1L),
      (3L, false, 1L), (5L, false, 3L)))
    // Distinct cells isolate: two tight groups around orthogonal
    // centroids (ids 0 and 100) never cross-compare even at cos ≈ 1
    // within-group.
    val twoCells = Seq(
      (0L, vec(0)), (1L, vec(1)), (100L, vec(90)), (101L, vec(89))
    ).toDF("vec_id", "embedding")
    val cells = Similarity.semanticDedup(twoCells, "vec_id", "embedding",
        centroidEvery = 100, threshold = 0.9)
      .select(col("id"), col("cell"), col("is_kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(cells === Set((0L, 0L, true), (1L, 0L, false),
      (100L, 100L, true), (101L, 100L, false)))
  }

  test("labelOutlierAudit: cross-multiplied centroid distances match by hand") {
    // Label A: (1,0), (1,0), (0,1) → quantized (10000,0)×2, (0,10000);
    // s=(20000,10000), ‖s‖²=5·10⁸, n=3. d2n2 = n²‖x‖² − 2n·x·s + ‖s‖²:
    // the two (1,0)s get 9·10⁸ − 1.2·10⁹ + 5·10⁸ = 2·10⁸, the (0,1)
    // gets 9·10⁸ − 6·10⁸ + 5·10⁸ = 8·10⁸. Σ = 1.2·10⁹, so ratios are
    // 8·10⁸·3·10⁶ div 1.2·10⁹ = 2,000,000 and 500,000 exactly.
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "A"),
      (2L, Seq(1.0f, 0.0f), "A"),
      (3L, Seq(0.0f, 1.0f), "A"),
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutlierAudit(df, "vec_id", "embedding",
        "label", topK = 3)
      .select(col("n"), col("rank"), col("vec_id"), col("ratio_ppm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(out === Seq((3L, 1, 3L, 2000000L), (3L, 2, 1L, 500000L),
      (3L, 3, 2L, 500000L)))
  }

  test("labelOutlierAudit: labels are independent and degenerate labels yield null ratios") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "A"), (2L, Seq(0.0f, 1.0f), "A"),
      (3L, Seq(5.0f, 5.0f), "B"), (4L, Seq(5.0f, 5.0f), "B"),
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutlierAudit(df, "vec_id", "embedding",
        "label", topK = 1)
      .select(col("label"), col("vec_id"), col("ratio_ppm"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // A's two symmetric vectors tie at exactly the mean (10⁶ ppm), min-id
    // wins rank 1; B's identical vectors have zero total distance → null
    // ratio (never a division by zero).
    assert(out === Seq(("A", 1L, 1000000L), ("B", 3L, -1L)))
  }

  test("pqDistortionAudit: every-vector codebook makes ADC exact — corr 1e6, exact ranking") {
    // centroidEvery=1 → every vector IS a centroid, so each subvector
    // encodes to itself (d=0 beats everything; min-id tie-break can only
    // pick an identical subvector) and ADC(q,x) = Σⱼ d²(qⱼ, xⱼ) = the
    // exact squared L2: ranking must equal brute force and corr_micro
    // must be exactly 1_000_000 on every row.
    val rows = Seq(
      (0L, Array(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f, 0f, 2f, 0f, 0f)),
      (2L, Array(0f, 3f, 0f, 0f, 0f, 0f, 1f, 0f)),
      (3L, Array(2f, 2f, 0f, 0f, 0f, 0f, 0f, 4f)),
      (4L, Array(0f, 0f, 5f, 0f, 1f, 1f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pqDistortionAudit(
        corpus = df, queries = df.filter(col("vec_id") === 0L),
        idCol = "vec_id", vecCol = "embedding", k = 4,
        numSubspaces = 2, dim = 8, centroidEvery = 1)
      .orderBy("rank").collect()
    assert(out.forall(_.getAs[Long]("corr_micro") === 1000000L))
    assert(out.forall(_.getAs[Boolean]("distortion_ok")))
    assert(out.forall(_.getAs[Long]("n_scored") === 4L))
    // Exact squared distances from q=v0: v1→1+(0-... computed by hand:
    // d²(0,1)=1+1+1=... v1: (1-0)²+(2-1)²? dims: v0=[0,0,0,0,1,0,0,0].
    // d²(v0,v1) = 1 + 1 + 4 = 6; d²(v0,v2) = 9+1+1 = 11;
    // d²(v0,v3) = 4+4+1+16 = 25; d²(v0,v4) = 25+1 = 26.
    val got = out.map(r => (r.getAs[Int]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_micro")))
    assert(got === Array((1, 1L, 6000000L), (2, 2L, 11000000L),
      (3, 3L, 25000000L), (4, 4L, 26000000L)))
  }

  test("pqDistortionAudit: equidistant assignment breaks ties to the SMALLEST centroid id") {
    // x1=[1,0,0,0] is exactly equidistant (d²=1) from centroids
    // c0=[0,0,0,0] and c2=[2,0,0,0]; the query q3=[4,0,0,0] is NOT
    // (d²(q,c0)=16, d²(q,c2)=4), so x1's ADC value reveals which code
    // the tie-break picked: 16e6 for the min-id centroid c0 (correct),
    // 4e6 for c2 (wrong). Pins the packed-long argmin (sd_micro·idBound
    // + centroid_id) to the old min_by(struct(sd, centroid_id)) order.
    val rows = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)),
      (3L, Array(4f, 0f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pqDistortionAudit(
        corpus = df, queries = df.filter(col("vec_id") === 3L),
        idCol = "vec_id", vecCol = "embedding", k = 3,
        numSubspaces = 1, dim = 4, centroidEvery = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_micro")))
    assert(out === Array((1, 2L, 4000000L), (2, 0L, 16000000L),
      (3, 1L, 16000000L)))
  }

  test("sq8DistortionAudit: two-level dims dequantize exactly — corr exactly 1e6") {
    // Dims 1–3 hold only their per-dim min/max, so codes land on exactly
    // representable endpoints (0 and 255 dequantize to mn and mx); dim 4
    // is constant, exercising the mx = mn branch (emit mn, also exact).
    // d2_sq8 therefore EQUALS d2_exact on every pair and the Pearson
    // field correlation must be exactly 1_000_000.
    val rows = Seq(
      (0L, Array(0f, 0f, 1f, 0.5f)),
      (1L, Array(1f, 0f, 0f, 0.5f)),
      (2L, Array(0f, 1f, 1f, 0.5f)),
      (3L, Array(1f, 1f, 0f, 0.5f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.sq8DistortionAudit(
        df, df.filter(col("vec_id") < 2), "vec_id", "embedding")
      .orderBy("query_id").collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Long]("n_scored") === 3L)
      assert(r.getAs[Long]("corr_micro") === 1000000L)
      assert(r.getAs[Boolean]("sq8_ok"))
    }
  }

  test("matryoshkaAudit: constant suffix makes the prefix field exact — corr 1e6") {
    // The last two dims are identical across the corpus, so the k=2
    // prefix distance field equals the full field pair-for-pair: the
    // correlation is exactly 1_000_000 and the gate passes. A broken
    // slice (wrong offset) would pull suffix constants into the prefix
    // and land far below — the bug this audit exists to catch.
    val rows = Seq(
      (0L, Array(0f, 0f, 7f, 7f)),
      (1L, Array(1f, 0f, 7f, 7f)),
      (2L, Array(0f, 2f, 7f, 7f)),
      (3L, Array(3f, 2f, 7f, 7f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaAudit(
        df, df.filter(col("vec_id") === 0L), "vec_id", "embedding",
        ks = Seq(2), minCorrMicroByK = Map(2 -> 900000L)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("k") === 2L)
    assert(r.getAs[Long]("n_scored") === 3L)
    assert(r.getAs[Long]("corr_micro") === 1000000L)
    assert(r.getAs[Boolean]("trunc_ok"))
  }
}
