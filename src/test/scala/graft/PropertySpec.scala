package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Flatten, Relational, Validators}

/** Property-based encodings of the reference's invariants (SURVEY §5.2):
  * for ARBITRARY order payloads the flatten preserves order counts, emits
  * Σ items non-null-item rows and Σ max(items,1) total rows; MERGE is
  * idempotent for arbitrary key overlaps.
  *
  * Uses ScalaCheck generators with FIXED seeds (the scalatest-scalacheck
  * bridge isn't on the offline classpath): deterministic, reproducible
  * samples instead of a shrinking harness.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val params = Gen.Parameters.default.withSize(12)
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(params, Seed(i.toLong)))

  private def forAll[A](g: Gen[A], n: Int = 8)(body: A => Unit): Unit = {
    val ss = samples(g, n)
    assert(ss.nonEmpty, "generator produced no samples")
    ss.foreach(body)
  }

  private val orderGen: Gen[Seq[Order]] = for {
    n <- Gen.choose(1, 12)
    orders <- Gen.listOfN(n, for {
      items <- Gen.choose(0, 5)
      status <- Gen.oneOf("PAID", "UNPAID", "CANCELLED")
    } yield (items, status))
  } yield orders.zipWithIndex.map { case ((items, status), i) =>
    Order(s"o$i", status,
      if (items == 0) Seq.empty
      else (1 to items).map(j => Item(s"o$i-p$j", j)))
  }

  test("A5 invariants hold for arbitrary order payloads") {
    forAll(orderGen) { orders =>
      val df = orders.toDF()
      val flat = Flatten.flattenOuter(df, "line_items", "item", Seq("order_id"))
      val itemsIn = orders.map(_.line_items.size).sum.toLong
      val inv = Validators.flattenInvariants(df, "order_id", itemsIn, flat, "order_id", "item")
      assert(inv.holds, inv.toString)
      assert(inv.totalRowsOut === orders.map(o => math.max(o.line_items.size, 1)).sum.toLong)
    }
  }

  test("prefix-flatten derived columns match item counts for arbitrary payloads") {
    forAll(orderGen) { orders =>
      val flat = Flatten.prefixFlatten(orders.toDF(), "line_items")
      val expected = orders.map(o => o.order_id ->
        ((o.line_items.size > 1, o.line_items.size))).toMap
      val got = flat.select("order_order_id", "has_multiple_items", "total_items_in_order")
        .distinct().collect()
        .map(r => r.getString(0) -> ((r.getBoolean(1), r.getInt(2)))).toMap
      assert(got === expected)
    }
  }

  private val kvGen: Gen[(Seq[(Long, String)], Seq[(Long, String)])] = for {
    t <- Gen.listOf(Gen.choose(0L, 20L))
    s <- Gen.listOf(Gen.choose(0L, 20L))
  } yield (
    t.distinct.map(k => k -> s"t$k"),
    s.distinct.map(k => k -> s"s$k"))

  test("MERGE upsert: source wins, union of keys, idempotent — arbitrary overlaps") {
    forAll(kvGen) { case (t, s) =>
      if (t.nonEmpty || s.nonEmpty) {
        val target = t.toDF("id", "v")
        val source = s.toDF("id", "v")
        val merged = Relational.mergeUpsert(target, source, Seq("id"))
        val got = merged.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val expected = t.toMap ++ s.toMap // source wins on overlap
        assert(got === expected)
        val twice = Relational.mergeUpsert(merged, source, Seq("id"))
        assert(twice.collect().map(r => r.getLong(0) -> r.getString(1)).toMap === expected)
      }
    }
  }

  private val mixtureGen: Gen[(Seq[(Long, String)], Map[String, Int], Int)] = for {
    nSrc <- Gen.choose(2, 5)
    weights <- Gen.listOfN(nSrc, Gen.choose(1, 5))
    rowsPerSrc <- Gen.choose(5, 40)
    total <- Gen.choose(1, nSrc * rowsPerSrc)
  } yield {
    val srcs = (0 until nSrc).map(i => s"s$i")
    val rows = for { s <- srcs.indices; r <- 0 until rowsPerSrc }
      yield (s.toLong * 1000 + r, srcs(s))
    (rows, srcs.zip(weights).toMap, total)
  }

  test("mixtureSample: Σ quotas ≤ totalRows, per-source take = min(quota, available), deterministic") {
    forAll(mixtureGen, n = 6) { case (rows, weights, total) =>
      val df = rows.toDF("id", "src")
      val wCol = weights.foldLeft(lit(0)) { case (acc, (s, w)) =>
        when(col("src") === s, w).otherwise(acc) }
      val out = graft.operators.Sampling
        .mixtureSample(df, "src", "id", wCol, total.toLong)
      val perSrc = out.groupBy("src")
        .agg(count(lit(1)).as("n"), first(col("quota")).as("q"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val wSum = weights.values.sum.toDouble
      val avail = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      perSrc.foreach { case (s, n, q) =>
        assert(q === math.floor(total.toDouble * weights(s) / wSum).toLong)
        assert(n === math.min(q, avail(s)))
      }
      assert(perSrc.map(_._3).sum <= total, "quota floor never over-allocates")
    }
  }

  // Arbitrary small corpora over a tiny vocabulary (so cross-document
  // gram collisions actually occur) for the substring-dedup family.
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(2, 10)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 20)
      toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
    } yield toks.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("substring dedup invariants: coverage bounds, cross-doc symmetry, rewrite conservation") {
    val k = 3
    forAll(corpusGen, n = 6) { rows =>
      val df = rows.toDF("doc_id", "text")
      val stats = graft.operators.Dedup.duplicateSpanStats(df, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(stats.map(_._1).sorted === rows.map(_._1), "one row per doc")
      stats.foreach { case (_, n, spans, dup) =>
        assert(dup >= 0 && dup <= n, "coverage within the document")
        assert(spans * k <= dup || spans == 0, "every span covers >= k tokens")
      }
      // A cross-document duplicate needs at least two participating docs.
      val flagged = stats.count(_._4 > 0)
      assert(flagged == 0 || flagged >= 2, s"cross-doc dup can't involve one doc: $flagged")
      val rewrite = graft.operators.Dedup.removeDuplicateSpans(df, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val dupByDoc = stats.map(s => s._1 -> s._4).toMap
      rewrite.foreach { case (id, n, kept) =>
        // Removal drops only NON-owner coverage, stats count owners too.
        assert(kept >= n - dupByDoc(id) && kept <= n, s"doc $id kept $kept of $n")
      }
    }
  }

  test("delta near-dup gate: containment in [0,1], threshold is the decision, ids preserved") {
    forAll(corpusGen.suchThat(_.size >= 4), n = 6) { rows =>
      val df = rows.toDF("doc_id", "text")
      val batch = df.filter(col("doc_id") % 2 === 0)
      val corpus = df.filter(col("doc_id") % 2 =!= 0)
      val out = graft.operators.Dedup.containmentAgainstCorpus(
          batch, corpus, "doc_id", "text", n = 2, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getBoolean(5)))
      assert(out.map(_._1).sorted === rows.map(_._1).filter(_ % 2 == 0),
        "every batch doc reported exactly once")
      out.foreach { case (_, shared, sz, cont, rejected) =>
        assert(shared <= sz && cont >= 0.0 && cont <= 1.0)
        assert(rejected === (shared.toDouble / sz >= 0.5))
      }
    }
  }

  test("length batching: partition of the corpus, caps respected, batches stay in their band") {
    val lensGen = for {
      n <- Gen.choose(1, 40)
      lens <- Gen.listOfN(n, Gen.choose(1L, 60L))
    } yield lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
    forAll(lensGen, n = 6) { rows =>
      val out = graft.operators.Packing.lengthBucketedBatches(
          rows.toDF("doc_id", "len"), "doc_id", col("len"),
          batchSize = 4, bucketWidth = 10)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getDouble(6)))
      assert(out.map(_._2).sum === rows.size, "batches partition the corpus")
      out.foreach { case (bucket, nDocs, maxLen, sumLen, padded, waste) =>
        assert(nDocs >= 1 && nDocs <= 4)
        assert(maxLen / 10 === bucket, "a batch never crosses its length band")
        assert(padded === nDocs * maxLen && sumLen <= padded)
        assert(waste >= 0.0 && waste < 1.0)
      }
    }
  }

  test("Misra–Gries candidates ⊇ true heavy hitters for arbitrary corpora × partitionings") {
    // Zipf-ish skew via a power draw so some samples HAVE heavy hitters;
    // the guarantee must hold with or without them.
    val corpusGen = for {
      n <- Gen.choose(20, 300)
      keys <- Gen.listOfN(n, Gen.choose(1, 1000).map(x => s"k${1000 / x}"))
      k <- Gen.choose(2, 12)
      parts <- Gen.choose(1, 9)
    } yield (keys, k, parts)
    forAll(corpusGen, n = 10) { case (keys, k, parts) =>
      val cands = keys.toDF("key").repartition(parts)
        .agg(graft.functions.MisraGries.misra_gries(col("key"), k).as("c"))
        .select(explode(col("c")).as("key")).as[String].collect().toSet
      assert(cands.size <= k)
      val heavy = keys.groupBy(identity).collect {
        case (key, occ) if occ.size.toLong * k > keys.size => key
      }.toSet
      assert(heavy.subsetOf(cands),
        s"k=$k parts=$parts lost ${heavy -- cands}")
    }
  }

  test("TopKByOrd ≡ ranking window for arbitrary data, k, and partitionings") {
    val gen = for {
      n <- Gen.choose(1, 200)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 5)
        ord <- Gen.choose(0, 30) // narrow range forces duplicate ords (tie path)
      } yield (s"g$g", ord.toDouble))
      k <- Gen.choose(1, 6)
      parts <- Gen.choose(1, 8)
    } yield (rows.zipWithIndex.map { case ((g, o), i) => (g, o, i.toLong) }, k, parts)
    forAll(gen, n = 10) { case (rows, k, parts) =>
      val got = rows.toDF("g", "ord", "id").repartition(parts)
        .groupBy(col("g"))
        .agg(graft.functions.TopKByOrd.top_k_by(col("ord"), col("id"), k).as("t"))
        .select(col("g"), explode(col("t")).as("e"))
        .select(col("g"), col("e.ord"), col("e.id")).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy { case (_, o, i) => (-o, i) }.take(k)
      }.toSet
      assert(got === expected, s"k=$k parts=$parts")
    }
  }

  test("tokenBudgetSelect is a maximal prefix for arbitrary corpora and band widths") {
    val gen = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, for {
        score <- Gen.choose(0L, 500L)
        toks <- Gen.choose(1L, 50L)
      } yield (score, toks))
      budget <- Gen.choose(10L, 1500L)
      bw <- Gen.oneOf(1, 7, 100, 10000)
    } yield (rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }, budget, bw)
    forAll(gen, n = 10) { case (rows, budget, bw) =>
      val got = graft.operators.Packing.tokenBudgetSelect(
          rows.toDF("doc_id", "score", "n_tokens"), "doc_id",
          col("score"), col("n_tokens"), budget, bandWidth = bw)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      val walk = rows.sortBy { case (id, s, _) => (-s, id) }
      var cum = 0L
      val expected = walk.iterator.map { case (id, _, t) => cum += t; (id, cum) }
        .takeWhile(_._2 <= budget).toMap
      assert(got === expected, s"budget=$budget bw=$bw")
    }
  }

  // ----------------------------------------------------- interval operators

  private val intervalsGen: Gen[Seq[(Long, Long, Long)]] = for {
    n <- Gen.choose(1, 25)
    iv <- Gen.listOfN(n, for {
      key <- Gen.choose(1L, 3L)
      s <- Gen.choose(0L, 100L)
      len <- Gen.choose(0L, 30L)
    } yield (key, s, s + len))
  } yield iv

  /** Reference merge: per key, sweep sorted intervals accumulating islands. */
  private def bruteCoalesce(iv: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    iv.groupBy(_._1).flatMap { case (k, g) =>
      val sorted = g.map(t => (t._2, t._3)).sortBy(identity)
      val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
      for ((s, e) <- sorted) {
        if (out.nonEmpty && s <= out.last._2)
          out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
        else out += ((s, e))
      }
      out.map { case (s, e) => (k, s, e) }
    }.toSet

  test("coalesceIntervals matches a sweep-line reference on random interval sets") {
    forAll(intervalsGen, n = 10) { iv =>
      val got = graft.operators.TimeSeries.coalesceIntervals(
          iv.toDF("k", "s", "e"), "k", col("s"), col("e"))
        .select("k", "start_us", "end_us")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === bruteCoalesce(iv), s"intervals=$iv")
    }
  }

  private val overlapGen: Gen[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long)], Long)] = for {
    nl <- Gen.choose(1, 12)
    nr <- Gen.choose(1, 12)
    left <- Gen.listOfN(nl, for {
      id <- Gen.choose(1L, 100L); s <- Gen.choose(0L, 80L); len <- Gen.choose(0L, 40L)
    } yield (id, s, s + len))
    right <- Gen.listOfN(nr, for {
      id <- Gen.choose(1L, 100L); s <- Gen.choose(0L, 80L); len <- Gen.choose(0L, 40L)
    } yield (id, s, s + len))
    bucket <- Gen.oneOf(1L, 7L, 10L, 64L)
  } yield (left, right, bucket)

  private val asofGen: Gen[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long)], Long)] = for {
    np <- Gen.choose(1, 15)
    nq <- Gen.choose(1, 15)
    probes <- Gen.listOfN(np, for {
      k <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 60L)
    } yield (k, t, 0L))
    quotes <- Gen.listOfN(nq, for {
      k <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 60L)
    } yield (k, t, 0L))
    tol <- Gen.oneOf(5L, 20L, Long.MaxValue)
  } yield (probes, quotes, tol)

  test("asofJoin matches a brute-force reference in all three directions") {
    forAll(asofGen, n = 8) { case (pRaw, qRaw, tol) =>
      // Unique values per quote so the deterministic same-ts tie (min v
      // forward / max v backward) is checkable.
      val probes = pRaw.zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
      val quotes = qRaw.zipWithIndex.map { case ((k, t, _), i) => (k, t, 1000L + i) }
      def brute(dir: String): Map[(Long, Long, Long), Option[(Long, Long)]] =
        probes.map { case (k, pt, pid) =>
          val cands = quotes.filter(_._1 == k)
          val eligible = dir match {
            case "backward" => cands.filter(_._2 <= pt)
            case "forward"  => cands.filter(_._2 >= pt)
            case "nearest"  => cands
          }
          val best = eligible
            .filter(q => math.abs(q._2 - pt) <= tol)
            .sortBy { q =>
              val d = math.abs(q._2 - pt)
              // nearest ties → backward; same-ts/side ties → the window's
              // deterministic pick: max v backward side, min v forward.
              val sidePref = if (q._2 <= pt) 0 else 1
              val vOrder = if (q._2 <= pt) -q._3 else q._3
              (d, sidePref.toLong, vOrder)
            }.headOption
          ((k, pt, pid), best.map(q => (q._2, q._3)))
        }.toMap
      for (dir <- Seq("backward", "forward", "nearest")) {
        val got = graft.operators.TimeSeries.asofJoin(
            probes.toDF("k", "pts", "pid"), quotes.toDF("k", "qts", "qv"),
            "k", "pts", "qts", "qv", dir, tol)
          .select("k", "pts", "pid", "asof_ts", "asof_val")
          .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
            Option(r.get(3)).map(_ =>
              (r.getLong(3), r.getLong(4))))).toMap
        assert(got === brute(dir), s"dir=$dir tol=$tol p=$probes q=$quotes")
      }
    }
  }

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(0, 40)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L)
    } yield (a, b))
  } yield edges

  test("triangleStats matches brute-force enumeration on random graphs") {
    forAll(graphGen, n = 8) { raw =>
      val edges = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      if (edges.nonEmpty) {
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        val bruteTri = (for {
          Seq(x, y, z) <- nodes.combinations(3)
          if edges((x, y)) && edges((x, z)) && edges((y, z))
        } yield 1).size.toLong
        val deg = nodes.map(v => v -> edges.count(e => e._1 == v || e._2 == v)).toMap
        val bruteWedge = deg.values.map(d => d.toLong * (d - 1) / 2).sum
        val got = graft.operators.Graphs.triangleStats(
            raw.toDF("id_a", "id_b"))
          .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
          .as[(Long, Long, Long, Long)].head()
        assert(got === ((nodes.size.toLong, edges.size.toLong, bruteWedge, bruteTri)),
          s"edges=$edges")
      }
    }
  }

  test("sortedNeighborhoodPairs equals the brute-force positional reference") {
    val keyGen: Gen[Seq[(Long, String)]] = for {
      n <- Gen.choose(2, 30)
      ks <- Gen.listOfN(n, Gen.listOfN(3, Gen.oneOf("a", "b", "c")).map(_.mkString))
    } yield ks.zipWithIndex.map { case (k, i) => (i.toLong, k) }
    forAll(keyGen, n = 10) { rows =>
      for (w <- Seq(1, 4)) {
        val sorted = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
        val expected = (for {
          i <- sorted.indices
          j <- (i + 1) until math.min(i + w + 1, sorted.length)
        } yield (sorted(i), sorted(j), (j - i).toLong)).toSet
        val got = graft.operators.Blocking.sortedNeighborhoodPairs(
            rows.toDF("id", "k").repartition(4), "id", col("k"), w)
          .select("id_a", "id_b", "dist").as[(Long, Long, Long)]
          .collect().toSet
        assert(got === expected, s"w=$w rows=$rows")
      }
    }
  }

  test("semanticDedup invariants: per-cell min-id survivor floor, dup_of shape, partition invariance") {
    val vecGen: Gen[Seq[(Long, Array[Float])]] = for {
      n <- Gen.choose(4, 24)
      vs <- Gen.listOfN(n, Gen.listOfN(3,
        Gen.choose(-10, 10).map(_.toFloat / 10f)).map(_.toArray))
    } yield vs.zipWithIndex.collect {
      // Drop zero vectors (cosine undefined) — ids stay unique.
      case (v, i) if v.exists(_ != 0f) => (i.toLong, v)
    }
    forAll(vecGen, n = 8) { rows =>
      // Every cache the three runs share is released when using() ends.
      graft.core.CacheScope.using {
        val df = rows.toDF("vec_id", "embedding")
        val out = graft.operators.Similarity
          .semanticDedup(df, "vec_id", "embedding", centroidEvery = 4,
            threshold = 0.95)
          .select(col("id"), col("cell"), col("is_kept"), col("dup_of"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))
        val cellOf = out.map(o => o._1 -> o._2).toMap
        // Every row appears exactly once; a dropped row's dup_of is a
        // smaller id in the SAME cell; kept rows carry no attribution.
        assert(out.map(_._1).sorted === rows.map(_._1).sorted)
        out.foreach {
          case (id, cell, true, dup) => assert(dup.isEmpty, s"kept $id in $cell")
          case (id, cell, false, dup) =>
            assert(dup.exists(d => d < id && cellOf(d) == cell), s"dropped $id")
        }
        // The min id of every cell can have no smaller cell-mate: always kept.
        out.groupBy(_._2).foreach { case (cell, members) =>
          val minId = members.map(_._1).min
          assert(members.find(_._1 == minId).get._3, s"cell $cell min $minId")
        }
        // Threshold -1 keeps EXACTLY the per-cell min (everything else has
        // a similar-enough smaller mate by definition).
        val floor = graft.operators.Similarity
          .semanticDedup(df, "vec_id", "embedding", centroidEvery = 4,
            threshold = -1.0)
          .filter(col("is_kept")).select("id").as[Long].collect().toSet
        assert(floor === out.groupBy(_._2).map(_._2.map(_._1).min).toSet)
        // Bit-identical under repartitioning.
        val re = graft.operators.Similarity
          .semanticDedup(df.repartition(5), "vec_id", "embedding",
            centroidEvery = 4, threshold = 0.95)
          .select(col("id"), col("cell"), col("is_kept"), col("dup_of"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))
        assert(re.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
      }
    }
  }

  test("overlapJoin matches the naive cross filter for every bucket width") {
    forAll(overlapGen, n = 10) { case (left, right, bucket) =>
      // Distinct synthetic row ids so multiset pair counts are comparable.
      val l = left.zipWithIndex.map { case ((_, s, e), i) => (i.toLong, s, e) }
      val r = right.zipWithIndex.map { case ((_, s, e), i) => (i.toLong, s, e) }
      val got = graft.operators.TimeSeries.overlapJoin(
          l.toDF("lid", "ls", "le"), r.toDF("rid", "rs", "re"),
          "ls", "le", "rs", "re", bucket)
        .select("lid", "rid", "overlap_us")
        .as[(Long, Long, Long)].collect().toSet
      val expected = (for {
        (li, ls, le) <- l; (ri, rs, re) <- r
        if ls <= re && rs <= le
      } yield (li, ri, math.min(le, re) - math.max(ls, rs))).toSet
      assert(got === expected, s"bucket=$bucket left=$l right=$r")
    }
  }

  // Arbitrary small corpora: 1–10 docs of 0–90 tokens drawn from a
  // 40-word vocabulary (repetition is the POINT — boilerplate, shared
  // chunks and register collisions all need recurring material).
  private val wideCorpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(1, 10)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(0, 90)
      ws <- Gen.listOfN(len, Gen.choose(0, 39).map(i => s"w$i"))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("ragChunks: exact token cover for arbitrary corpora, windows and strides") {
    val g = for {
      corpus <- wideCorpusGen
      window <- Gen.choose(1, 20)
      stride <- Gen.choose(1, window)
    } yield (corpus, window, stride)
    forAll(g) { case (corpus, window, stride) =>
      val out = graft.operators.TextAnalysis.ragChunks(
          corpus.toDF("doc_id", "text"), "doc_id", "text", window, stride)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val byDoc = out.groupBy(_._1)
      corpus.foreach { case (id, text) =>
        val n = text.trim.toLowerCase.split("\\s+").length.toLong
        val chunks = byDoc.getOrElse(id, Array.empty).sortBy(_._2)
        // Chunk 0 always exists; indices are contiguous; starts are
        // stride multiples; spans clamp to n; the union of spans covers
        // [0, n) with no gap (start_k <= end_{k-1}); the LAST chunk
        // reaches EOF and no chunk is pure overlap (its end exceeds the
        // previous end).
        assert(chunks.nonEmpty && chunks.head._2 === 0L)
        assert(chunks.map(_._2).toSeq === chunks.indices.map(_.toLong))
        var prevEnd = 0L
        chunks.foreach { case (_, k, start, nTok) =>
          assert(start === k * stride)
          assert(nTok === math.min(n, start + window) - start)
          assert(start <= prevEnd, s"gap at chunk $k")
          assert(start + nTok > prevEnd || k == 0L, s"pure-overlap chunk $k")
          prevEnd = start + nTok
        }
        assert(prevEnd === n, "last chunk must reach EOF")
      }
    }
  }

  test("hll registers: merge-of-parts ≡ whole, estimate monotone under growth") {
    import graft.functions.HyperLogLog
    forAll(wideCorpusGen) { corpus =>
      val p = 6
      def regsOf(rows: Seq[(Long, String)]): Seq[Int] =
        if (rows.isEmpty) Seq.fill(1 << p)(0)
        else rows.toDF("doc_id", "text")
          .select(explode(graft.operators.TextAnalysis.tokens(col("text")))
            .as("t"))
          .agg(HyperLogLog.hll_registers(col("t"), p).as("r"))
          .collect().head.getSeq[Int](0)
      val (a, b) = corpus.splitAt(corpus.size / 2)
      val whole = regsOf(corpus)
      // Union law: sketching the halves and max-merging equals sketching
      // the whole — the property every cross-batch/cross-day merge
      // depends on.
      if (a.nonEmpty && b.nonEmpty)
        assert(HyperLogLog.mergeRegisters(regsOf(a), regsOf(b)) === whole)
      // Growth monotonicity: a superset corpus can only raise registers,
      // and the exact-integer estimate follows.
      if (a.nonEmpty) {
        val part = regsOf(a)
        assert(part.lazyZip(whole).forall(_ <= _))
        assert(HyperLogLog.estimateMilli(part, p) <=
          HyperLogLog.estimateMilli(whole, p))
      }
    }
  }

  test("giniByGroup ∈ [0, 1e6), permutation/duplication-scale behavior") {
    val g = for {
      n <- Gen.choose(1, 15)
      vs <- Gen.listOfN(n, Gen.choose(0L, 50L))
    } yield vs
    forAll(g) { vs =>
      def gini(rows: Seq[Long]): Option[Long] = {
        val out = graft.operators.Stats.giniByGroup(
            rows.map(("g", _)).toDF("g", "v"), col("g"), col("v"), 7L)
          .collect().head
        if (out.isNullAt(3)) None else Some(out.getAs[Number](3).longValue())
      }
      val base = gini(vs)
      if (vs.sum == 0) assert(base.isEmpty)
      else {
        assert(base.exists(v => v >= 0L && v < 1000000L))
        // Row order cannot matter (ranks come from values, not rows).
        assert(gini(new scala.util.Random(42).shuffle(vs)) === base)
        // Duplicating every row preserves G exactly: the closed form's
        // numerator and denominator both scale by 4 (T' = 4T − 2S,
        // (2n+1)·2S expands to leave 4(T − (n+1)S) over 4nS).
        assert(gini(vs ++ vs) === base)
      }
    }
  }

  test("ring placement: successor lookup ≡ from-the-definition clockwise argmin, arbitrary keys") {
    // Pins the q186/q187 rewrite's SEMANTICS against the definition,
    // independent of either Spark formulation: for arbitrary key hashes
    // the production successor lookup must equal the (dist, shard)
    // lexicographic argmin computed here in plain Scala, and q186's
    // structural promise must hold — growing the ring never moves a key
    // that keeps its shard set (monotone placement: a key moves ONLY to
    // one of the added shards).
    val M = 1152921504606846976L
    def ring(shards: Int, vn: Int): Seq[(Long, Int)] = for {
      i <- 0 until shards; j <- 0 until vn
    } yield (graft.functions.HyperLogLog.hash60(s"s$i:v$j"), i)
    def argminDef(h: Long, r: Seq[(Long, Int)]): Int =
      r.map { case (p, s) => (Math.floorMod(p - h, M), s) }.min._2
    val g = for {
      n <- Gen.choose(1, 40)
      ks <- Gen.listOfN(n, Gen.choose(0L, M - 1))
    } yield ks
    forAll(g) { ks =>
      val df = ks.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "k")
      // reshardAudit's per-key placements, recovered through the audit
      // itself on singleton frames, would be slow — drive the shared
      // helper directly through a 1-row-per-key projection instead.
      val out = df.select(col("id"),
          graft.operators.Skew.ringAssignForTest(col("k"), ring(8, 16))
            .as("old8"),
          graft.operators.Skew.ringAssignForTest(col("k"), ring(9, 16))
            .as("new9"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      ks.zipWithIndex.foreach { case (k, i) =>
        val (o, n9) = out(i.toLong)
        assert(o === argminDef(k, ring(8, 16)).toLong)
        assert(n9 === argminDef(k, ring(9, 16)).toLong)
        // monotone growth: a moved key landed on the ADDED shard
        if (o !== n9) assert(n9 === 8L)
      }
    }
  }
}
