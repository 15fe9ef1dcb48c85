package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.DriverGuard

/** Graph diagnostics over pair relations (duplicate-pair graphs,
  * co-purchase graphs): the family companion to
  * [[Dedup.duplicateClusters]]' connected components.
  *
  * Triangle counting uses the degree-ordered node-iterator (the classic
  * MapReduce-scale formulation, Suri & Vassilvitskii WWW'11 — public
  * algorithm): orient every edge from the smaller to the larger endpoint
  * in the (degree, id) total order, build wedges at each vertex from its
  * OUT-neighbors only, and close them against the oriented edge set.
  * Every triangle is counted exactly once (at its lowest-order vertex),
  * and the wedge fan-out at any vertex is bounded by its out-degree —
  * O(√|E|) under the orientation — so a high-degree hub never explodes
  * into deg² wedges. All joins are keyed shuffles; nothing is quadratic
  * in nodes.
  */
object Graphs {

  /** Whole-graph triangle statistics from an undirected pair relation
    * (columns `id_a`, `id_b`; duplicates/self-loops/orientation ignored).
    * One row: n_nodes, n_edges, n_wedges (paths of length 2, exact),
    * n_triangles, clustering (3·triangles / wedges, 0 when wedge-free).
    *
    * The oriented edge set is consumed by three branches, so the STATIC
    * plan repeats its subtree — deliberately left lazy: runtime exchange
    * reuse dedupes the identical subplans, and both measured
    * alternatives were slower at sf0.1 (cache: 21.7s; localCheckpoint:
    * 16.2s; lazy recompute: 11.8s — materializing 2.4M-edge
    * intermediates costs more than re-reading a columnar scan through
    * reused exchanges). The wedge join itself, not edge preparation, is
    * the inherent cost: Σ out-deg² wedge rows (~40M on the sf0.1
    * co-purchase graph).
    */
  /** Canonical undirected edge set from a pair relation: (u < v), self
    * loops dropped, duplicates and orientation collapsed. */
  private def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  def triangleStats(pairs: DataFrame,
      driverMaxEdges: Int = 2 * 1000 * 1000): DataFrame = {
    val e = canonicalEdges(pairs)
    // Edge-guarded driver path (the duplicateClusters pattern): the
    // support-filtered graphs this audits are pair-population-sized, not
    // corpus-sized. Two-level guard: edge count (driver memory) AND the
    // oriented wedge count Σ C(outdeg, 2) computed from the collected
    // degree table (driver CPU — the wedge join is the operator's real
    // cost and must not silently become a single-threaded scan). Either
    // overflow falls through to the distributed joins below.
    val local = DriverGuard.collectUpTo(e, driverMaxEdges).flatMap(edges =>
      triangleStatsLocal(pairs.sparkSession, edges.map(r => (r.get(0), r.get(1)))))
    if (local.isDefined) return local.get
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // Orient by the (deg, id) total order; carry the head's order key so
    // wedge construction needs no further deg join.
    val withDeg = e
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst"), col("dv").as("ddst")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"), col("du").as("ddst")))
        .as("o"))
      .select(col("o.src"), col("o.dst"), col("o.ddst"))
    val o1 = oriented.select(col("src"), col("dst").as("x"), col("ddst").as("dx"))
    val o2 = oriented.select(col("src"), col("dst").as("y"), col("ddst").as("dy"))
    val wedgesAtSrc = o1.join(o2, "src")
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
    val triangles = wedgesAtSrc
      .join(oriented.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val counts = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        // Integer DIV keeps the wedge count exact at any degree scale.
        sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges")))
      .crossJoin(triangles)
    counts.select(col("n_nodes"), col("n_edges"), col("n_wedges"),
      col("n_triangles"),
      when(col("n_wedges") > 0,
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
        .otherwise(lit(0.0)).as("clustering"))
  }

  /** Total order matching Spark's comparison for the id types the graph
    * family carries (numeric ids; strings compare as UTF8String —
    * unsigned byte-wise, which Java's String.compareTo is NOT beyond the
    * BMP). The local paths must orient/canonicalize exactly like
    * least/greatest and the (deg, id) struct comparison do distributed.
    */
  private val idOrd: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int)   => java.lang.Integer.compare(x, y)
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(xb.length, yb.length)
      var i = 0
      var d = 0
      while (i < n && d == 0) { d = (xb(i) & 0xff) - (yb(i) & 0xff); i += 1 }
      if (d != 0) d else xb.length - yb.length
    case _ => throw new IllegalArgumentException(
      s"unsupported id type for the graph driver path: ${a.getClass}")
  }

  /** Driver CPU ceiling for the local wedge enumerations: beyond this the
    * wedge join is the real (distributed) cost and the single-threaded
    * path must decline. Σ C(outdeg, 2) for triangles, Σ C(deg, 2) over
    * centers for Adamic–Adar (where it also bounds the result map).
    */
  private val driverMaxWedges = 20L * 1000 * 1000

  /** The under-cap triangle path: same orientation ((deg, id) total
    * order), same wedge rule, same closure check against the oriented
    * edge set; the one double — clustering — reproduces Round(double, 6)
    * exactly (BigDecimal.valueOf → HALF_UP → doubleValue, the codegen'd
    * arithmetic; 3.0·t/w is IEEE-exact multiply/divide on both paths).
    * Returns None when the oriented wedge count exceeds the driver
    * ceiling — the caller falls back to the distributed joins.
    */
  private def triangleStatsLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Any, Any)]): Option[DataFrame] = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val deg = new java.util.HashMap[Any, Long]()
    edges.foreach { case (u, v) =>
      deg.merge(u, 1L, (a, b) => a + b); deg.merge(v, 1L, (a, b) => a + b)
    }
    // Orient along the (deg, id) total order; bail if the oriented wedge
    // count (the loop below's exact work) exceeds the driver ceiling.
    def headIsU(u: Any, v: Any): Boolean = {
      val du = deg.get(u); val dv = deg.get(v)
      du < dv || (du == dv && idOrd.lt(u, v))
    }
    val outDeg = new java.util.HashMap[Any, Long]()
    edges.foreach { case (u, v) =>
      outDeg.merge(if (headIsU(u, v)) u else v, 1L, (a, b) => a + b)
    }
    var nWedgesOriented = 0L
    outDeg.forEach((_, d) => nWedgesOriented += d * (d - 1) / 2)
    if (nWedgesOriented > driverMaxWedges) return None

    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
    val oriented = new java.util.HashSet[(Any, Any)](edges.length * 2)
    edges.foreach { case (u, v) =>
      val (s, d) = if (headIsU(u, v)) (u, v) else (v, u)
      adj.computeIfAbsent(s, _ => scala.collection.mutable.ArrayBuffer[Any]()) += d
      oriented.add((s, d))
    }
    var nTriangles = 0L
    adj.forEach { (_, outs) =>
      val n = outs.length
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val a = outs(i); val b = outs(j)
          // wedge pair ordered by (ddst, dst) — the closure edge, if the
          // raw edge exists, is oriented along the same total order.
          val (x, y) = if (headIsU(a, b)) (a, b) else (b, a)
          if (oriented.contains((x, y))) nTriangles += 1
          j += 1
        }
        i += 1
      }
    }
    var nWedges = 0L
    deg.forEach((_, d) => nWedges += d * (d - 1) / 2)
    val clustering =
      if (nWedges > 0)
        java.math.BigDecimal.valueOf(3.0 * nTriangles / nWedges)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else 0.0
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        deg.size().toLong, edges.length.toLong, nWedges, nTriangles,
        clustering)), 1),
      StructType(Seq(StructField("n_nodes", LongType, nullable = false),
        StructField("n_edges", LongType, nullable = false),
        StructField("n_wedges", LongType, nullable = false),
        StructField("n_triangles", LongType, nullable = false),
        StructField("clustering", DoubleType, nullable = false)))))
  }

  /** PageRank over an undirected pair relation, in EXACT fixed-point
    * integer arithmetic (damping 0.85, uniform init of `scale` per node):
    *
    *   rank⁰(v)   = scale                       (1.0 in fixed point)
    *   rankⁱ⁺¹(v) = (15·scale) div 100
    *              + Σ_{u ∈ N(v)} ((rankⁱ(u) div 100) · 85) div deg(u)
    *
    * Every step is 64-bit integer div/mul — no floating point anywhere —
    * so the result is bit-identical regardless of partitioning, executor
    * count, or engine: a SQL oracle replays the identical recurrence and
    * hash-matches. (Floating-point PageRank sums per-node contributions
    * in partition order; its low bits are nondeterministic by design.)
    * The damping multiply is applied per EDGE after a div-100 downshift,
    * which caps every intermediate at 85·rank/100 ≈ rank: total mass is
    * n·scale, so the default scale 1e9 holds ~10⁹ nodes inside int64
    * even if mass concentrates on one hub. The downshift costs 2 decimal
    * digits of the 9 carried — quantization error ~1e-7 per node per
    * iteration, far below anything a ranking consumes.
    *
    * Scale shape: one keyed join + one keyed aggregation per iteration
    * (contributions shuffle on dst — the standard distributed-PageRank
    * step). The adjacency frame and each iteration's node-sized rank
    * frame are materialized between iterations so iteration i+1 never
    * replays iteration i's lineage. By default that materialization is
    * `localCheckpoint` (executor storage — right for local mode, but it
    * PINS every generation's blocks to live executors). On a real
    * cluster set `checkpointEvery > 0` with a configured
    * `sparkContext.setCheckpointDir`: every Nth rank frame then goes
    * through a RELIABLE checkpoint (fault-tolerant storage, survives
    * executor loss, frees executor memory), with localCheckpoint only
    * bridging the short runs in between. Rank frames are |V|-sized —
    * the cheap side of the graph — so the write is small either way.
    *
    * Dangling nodes cannot arise: the graph is undirected and restricted
    * to edge endpoints, so every node has deg ≥ 1 and at least one
    * in-contribution.
    */
  def pageRank(pairs: DataFrame, iterations: Int = 3,
      scale: Long = 1000000000L, checkpointEvery: Int = 0,
      driverMaxEdges: Int = 2 * 1000 * 1000): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(scale >= 100, "scale must carry at least the div-100 downshift")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0 (0 = local only)")
    require(checkpointEvery == 0 ||
        pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "checkpointEvery > 0 needs sparkContext.setCheckpointDir(...) first")
    val e = canonicalEdges(pairs)
    // Edge-count-guarded driver path (the duplicateClusters pattern, same
    // default cap): a support-filtered graph that fits the guard runs the
    // identical fixed-point integer recurrence as plain JVM code — the
    // distributed loop's per-iteration join + aggregation are 2 keyed
    // shuffles of a graph-sized frame each, pure scheduler overhead when
    // the graph is tens of MB. One limit-guarded pass decides the path
    // AND delivers the edges; overflow falls through to the distributed
    // loop below (which re-derives the edge frames — at that scale the
    // guarded take's partial scan is noise). Integer div/sum make both
    // paths bit-identical (GraphsSpec pins it).
    val guarded = DriverGuard.collectUpTo(e, driverMaxEdges)
    if (guarded.isDefined)
      return pageRankLocal(pairs.sparkSession,
        guarded.get.map(r => (r.get(0), r.get(1))),
        pairs.schema("id_a").dataType, iterations, scale)
    val bidir = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val deg = bidir.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    // (src, dst, deg(src)) — the per-edge share denominator travels with
    // the edge so iterations never re-join the degree table.
    val adj = bidir
      .join(deg.select(col("id").as("src"), col("deg")), Seq("src"))
      .localCheckpoint(true)
    val nodes = deg.localCheckpoint(true)
    val base = 15L * scale / 100L
    var ranks = nodes.select(col("id"), lit(scale).as("rank"))
    for (i <- 1 to iterations) {
      // No per-iteration nodes re-join: the graph is undirected and
      // restricted to edge endpoints, so every node appears as a dst in
      // bidir and ranks covers all nodes by induction — the contribution
      // aggregation's group set IS the node set, and in_sum is never
      // null (see the dangling-nodes note above). The former left join
      // re-attached rows that were already all present, one join per
      // iteration.
      val next = adj
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("id"),
          expr("((rank div 100) * 85) div deg").as("share"))
        .groupBy(col("id")).agg(sum(col("share")).as("in_sum"))
        .select(col("id"), (lit(base) + col("in_sum")).as("rank"))
      // Rank frames form a LINEAR chain (each generation consumed once),
      // so truncating lineage does not need an eager job per iteration:
      // a LAZY localCheckpoint still bounds the active plan depth and
      // stores each generation's blocks as the one final action computes
      // them, without 1 extra Spark job per iteration. Reliable
      // checkpoints (fault-tolerance on a real cluster) stay eager at
      // their configured cadence.
      ranks =
        if (checkpointEvery > 0 && i % checkpointEvery == 0) next.checkpoint(true)
        else next.localCheckpoint(false)
    }
    ranks.join(nodes, Seq("id")).select(col("id"), col("deg"), col("rank"))
  }

  /** The under-cap PageRank path: identical recurrence over the collected
    * canonical edge set. deg counts both directions of each undirected
    * edge; per-iteration shares use the same downshifted integer
    * arithmetic (`((rank div 100) * 85) div deg`, all operands positive
    * longs so JVM `/` == SQL `div`), in-sums are exact long sums
    * (order-free), so labels match the distributed loop bit for bit.
    */
  private def pageRankLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Any, Any)], idType: org.apache.spark.sql.types.DataType,
      iterations: Int, scale: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val deg = new java.util.HashMap[Any, Long]()
    edges.foreach { case (u, v) =>
      deg.merge(u, 1L, (a, b) => a + b); deg.merge(v, 1L, (a, b) => a + b)
    }
    val base = 15L * scale / 100L
    var ranks = new java.util.HashMap[Any, Long](deg.size())
    deg.forEach((id, _) => ranks.put(id, scale))
    for (_ <- 1 to iterations) {
      val next = new java.util.HashMap[Any, Long](deg.size())
      edges.foreach { case (u, v) =>
        next.merge(v, ((ranks.get(u) / 100L) * 85L) / deg.get(u), (a, b) => a + b)
        next.merge(u, ((ranks.get(v) / 100L) * 85L) / deg.get(v), (a, b) => a + b)
      }
      next.replaceAll((_, s) => base + s)
      ranks = next
    }
    val rows = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    ranks.forEach((id, r) =>
      rows += org.apache.spark.sql.Row(id, deg.get(id), r))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("id", idType),
        StructField("deg", LongType, nullable = false),
        StructField("rank", LongType, nullable = false))))
  }

  /** Adamic–Adar link prediction: for every NON-adjacent pair (x, y)
    * sharing at least one neighbor, score = Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z)
    * — the classic common-neighbor index that discounts promiscuous hubs
    * (Adamic & Adar 2003, public). "Parts that should co-sell but don't
    * yet" on a co-purchase graph; candidate-pair generation for entity
    * resolution on a duplicate graph.
    *
    * Determinism: each center's weight is quantized to integer
    * MICRO-units — floor(1e6/ln(deg)) — BEFORE the per-pair sum, so the
    * aggregation is exact integer math, order-independent, and a SQL
    * oracle replays it. (deg(z) ≥ 2 always: z neighbors both x and y,
    * so ln(deg) > 0.) ln over small-integer operands is the one libm
    * call, identical-operand in both engines — the q108 entropy
    * discipline.
    *
    * Scale: wedge generation at a center z fans out C(deg z, 2) pairs —
    * inherently Σ deg² work, and unlike triangle counting no orientation
    * trick can bound it (the pairs ARE the output). The standard lever
    * is `maxCenterDeg`: hubs above the cap are excluded as centers —
    * exactly the pairs a hub generates are the ones AA itself discounts
    * toward zero (weight 1/ln(deg)), so the cap removes the quadratic
    * blowup with bounded score loss. The DEFAULT is capped at 1000
    * (≤ ~500k wedges per center): one viral hub on a real graph would
    * otherwise emit deg² pairs and dominate the whole job, the same
    * accuracy-for-boundedness trade the LSH/IVF paths make explicit —
    * a dropped center costs each of its wedge pairs < 1/ln(1000) ≈
    * 0.145 of score, the floor of AA's own discount curve. Pass 0 for
    * the exact/uncapped run (small or pre-filtered graphs only).
    * Everything else is keyed joins; the existing-edge exclusion is a
    * left_anti on the canonical edge set.
    */
  def adamicAdar(pairs: DataFrame, maxCenterDeg: Int = 1000,
      driverMaxEdges: Int = 2 * 1000 * 1000): DataFrame = {
    val e = canonicalEdges(pairs)
    // Edge-guarded driver path. AA's OUTPUT is wedge-sized (the pairs ARE
    // the result), so the second guard level — Σ C(deg, 2) over eligible
    // centers — bounds both the local loop's CPU and the result map's
    // memory; either overflow falls through to the distributed joins.
    val local = DriverGuard.collectUpTo(e, driverMaxEdges).flatMap(edges =>
      adamicAdarLocal(pairs.sparkSession, edges.map(r => (r.get(0), r.get(1))),
        pairs.schema("id_a").dataType, maxCenterDeg))
    if (local.isDefined) return local.get
    val bidir = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val deg = bidir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val centers0 = deg.filter(col("deg") >= 2)
    val centers = if (maxCenterDeg > 0)
      centers0.filter(col("deg") <= maxCenterDeg) else centers0
    // (z, neighbor, w_micros(z)): quantized hub discount rides the edge.
    val adj = bidir.join(centers, Seq("src"))
      .select(col("src"), col("dst"),
        floor(lit(1000000.0) / log(col("deg").cast("double"))).as("w"))
    val wedges = adj.select(col("src"), col("dst").as("x"), col("w"))
      .join(adj.select(col("src"), col("dst").as("y")), Seq("src"))
      .filter(col("x") < col("y"))
    wedges
      .join(e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"),
        "left_anti")
      .groupBy(col("x"), col("y"))
      .agg(sum(col("w")).as("aa_micros"), count(lit(1)).as("common_neighbors"))
      // aa_micros IS the score (micro-units, exact BIGINT — the hash
      // discipline: its decimal twin aa_micros/10⁶ carried no extra
      // information and a DECIMAL column is the serialization-sensitive
      // class; callers divide at display time if they want units).
      .select(col("x"), col("y"), col("common_neighbors"), col("aa_micros"))
  }

  /** The under-cap Adamic–Adar path: same center eligibility, same
    * quantized hub discount — floor(10⁶ / StrictMath.log(deg)) is
    * literally the arithmetic the Floor(Divide(lit, Log(deg))) expression
    * runs (Log evals AND codegens java.lang.StrictMath.log; divide is
    * IEEE-exact; Floor(double) is math.floor→long) — same wedge rule,
    * same existing-edge exclusion, exact long sums. Returns None when
    * Σ C(deg, 2) over eligible centers exceeds the driver ceiling.
    */
  private def adamicAdarLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Any, Any)], idType: org.apache.spark.sql.types.DataType,
      maxCenterDeg: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val deg = new java.util.HashMap[Any, Long]()
    edges.foreach { case (u, v) =>
      deg.merge(u, 1L, (a, b) => a + b); deg.merge(v, 1L, (a, b) => a + b)
    }
    def eligible(d: Long): Boolean =
      d >= 2 && (maxCenterDeg <= 0 || d <= maxCenterDeg)
    var wedgeBudget = 0L
    deg.forEach((_, d) => if (eligible(d)) wedgeBudget += d * (d - 1) / 2)
    if (wedgeBudget > driverMaxWedges) return None

    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
    val edgeSet = new java.util.HashSet[(Any, Any)](edges.length * 2)
    edges.foreach { case (u, v) =>
      edgeSet.add((u, v))
      if (eligible(deg.get(u)))
        adj.computeIfAbsent(u, _ => scala.collection.mutable.ArrayBuffer[Any]()) += v
      if (eligible(deg.get(v)))
        adj.computeIfAbsent(v, _ => scala.collection.mutable.ArrayBuffer[Any]()) += u
    }
    val acc = new java.util.HashMap[(Any, Any), Array[Long]]()
    adj.forEach { (z, nbrs) =>
      val w = math.floor(1000000.0 / StrictMath.log(deg.get(z).toDouble)).toLong
      val n = nbrs.length
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val a = nbrs(i); val b = nbrs(j)
          val key = if (idOrd.lt(a, b)) (a, b) else (b, a)
          if (!edgeSet.contains(key)) {
            val slot = acc.computeIfAbsent(key, _ => new Array[Long](2))
            slot(0) += w; slot(1) += 1
          }
          j += 1
        }
        i += 1
      }
    }
    val rows = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    acc.forEach((k, s) => rows += org.apache.spark.sql.Row(k._1, k._2, s(1), s(0)))
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("x", idType),
        StructField("y", idType),
        StructField("common_neighbors", LongType, nullable = false),
        StructField("aa_micros", LongType, nullable = false)))))
  }

  /** Newman modularity (Newman & Girvan 2004, eq. 5) of a NODE PARTITION
    * over an undirected pair graph, in exact integer arithmetic — "does
    * this attribute explain where the edges are?". For the near-dup pair
    * graph partitioned by source this is duplication assortativity:
    * Q near its maximum means duplication is a within-feed phenomenon
    * (mirrors, re-posts inside one crawl); Q near 0 means cross-feed
    * contamination dominates and per-source dedup would miss most of it.
    *
    * Q = Σ_c [ e_c/m − (d_c/2m)² ] is reported in parts-per-billion via
    * the common denominator (2m)²: with m2 = 2m (endpoint count) and
    * e2_c = 2·e_c, each part's numerator is m2·e2_c − d_c² and
    * Q_ppb = (Σ_c num_c)·10⁹ / m2². Numerators can be negative, and the
    * two engines' integer divisions disagree on negative operands
    * (truncate-toward-zero vs floor), so the division is sign-split:
    * both engines divide non-negative magnitudes and re-apply the sign.
    *
    * Scale: two id-keyed attribute joins onto the edge stream, one
    * |parts|-sized endpoint aggregation, one one-row totals aggregate
    * broadcast back. DECIMAL(38,0) intermediates hold to ~5·10¹¹ edges.
    * Partition-less nodes drop out of the graph (inner joins); parts
    * with no edge endpoints don't appear (their contribution is 0).
    *
    * `attrs` must have columns (id, part). Output, one row per part:
    * part, degree_sum (d_c), intra_pairs (e_c), contrib_ppb, plus the
    * whole-graph constants n_edges (m) and modularity_ppb.
    */
  def partitionModularity(pairs: DataFrame, attrs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val labeled = e
      .join(attrs.select(col("id").as("u"), col("part").as("pa")), Seq("u"))
      .join(attrs.select(col("id").as("v"), col("part").as("pb")), Seq("v"))
    // ONE edge-sized aggregation to the |parts|²-bounded cell frame;
    // endpoint accounting then explodes from cells, not from the edge
    // stream (a unionAll there would repeat the whole pair-generation
    // subtree per side — 2× the data-sized work in the static plan).
    val cells = labeled.groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n"))
    val ends = cells.select(explode(array(
        struct(col("pa").as("part"), col("n"),
          (col("pa") === col("pb")).as("intra")),
        struct(col("pb").as("part"), col("n"),
          (col("pa") === col("pb")).as("intra")))).as("s"))
      .select(col("s.part").as("part"), col("s.n").as("n"),
        col("s.intra").as("intra"))
    val parts = ends.groupBy(col("part")).agg(
      sum(col("n")).as("degree_sum"),
      sum(when(col("intra"), col("n")).otherwise(0L)).as("e2"))
    val tot = parts.agg(
      sum(col("degree_sum")).as("m2"),
      sum(col("e2")).as("se2"),
      sum(expr("cast(degree_sum as decimal(38,0)) * degree_sum")).as("sd2"))
    // Sign-split exact ppb division: num/den are DECIMAL(38,0) exprs.
    def ppb(num: String, den: String) =
      when(expr(num) >= 0,
        expr(s"cast((($num) * 1000000000) div ($den) as bigint)"))
        .otherwise(-expr(s"cast(((-($num)) * 1000000000) div ($den) as bigint)"))
    parts.crossJoin(broadcast(tot))
      .select(col("part"), col("degree_sum"),
        expr("e2 div 2").as("intra_pairs"),
        ppb("cast(m2 as decimal(38,0)) * e2 - cast(degree_sum as decimal(38,0)) * degree_sum",
          "cast(m2 as decimal(38,0)) * m2").as("contrib_ppb"),
        expr("m2 div 2").as("n_edges"),
        ppb("cast(m2 as decimal(38,0)) * se2 - sd2",
          "cast(m2 as decimal(38,0)) * m2").as("modularity_ppb"))
      .orderBy(col("part"))
  }
}
