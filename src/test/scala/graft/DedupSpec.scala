package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy cat tonight"), // near-dup of 1
    (3L, "completely different words about spark query engines here"),
    (4L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
    (5L, "tiny doc"), // shorter than shingle width
  ).toDF("doc_id", "text")

  test("exact dedup: min-id survivor, dup_count") {
    val out = Dedup.exactDedup(corpus, "text", "doc_id")
      .orderBy("survivor_id").collect()
    assert(out.length === 4)
    val first = out.head
    assert(first.getLong(first.fieldIndex("survivor_id")) === 1L)
    assert(first.getLong(first.fieldIndex("dup_count")) === 2L)
  }

  test("shingles: 3-grams, short docs yield empty not descending-sequence garbage") {
    val sh = corpus.select(col("doc_id"),
        Dedup.shinglesFromTokens(Dedup.tokens(col("text")), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(5L).isEmpty)
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).contains("lazy dog tonight"))
  }

  test("exact n-gram Jaccard finds the near-dup and exact-dup pairs only") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", lit(1), 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("MinHash+LSH pipeline reproduces the exact pair set on the fixture") {
    val got = Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("minhash signature: identical texts identical sigs; sig length k") {
    val sigs = corpus.select(col("doc_id"),
      Dedup.minhashSignature(
        Dedup.shinglesFromTokens(Dedup.tokens(col("text")), 3), 128).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length === 128)
    assert(sigs(1L) === sigs(4L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("containment catches a subsumed doc that Jaccard misses") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (3L, "totally unrelated words about something else entirely here now"),
    ).toDF("doc_id", "text")
    // doc 1's 3 shingles are all inside doc 2 → containment 1.0, but
    // Jaccard is 3/18 ≈ 0.17 — below any usable near-dup threshold.
    val cont = Dedup.ngramContainmentPairs(docs, "doc_id", "text", lit(1), 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit(1), 3, 0.5)
    assert(jac.count() == 0)
  }

  test("contamination counts shared eval grams; clean eval docs stay") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // train
      (20L, "alpha beta gamma delta epsilon eta"),  // eval: shares 3 3-grams
      (40L, "one two three four five six"),         // eval: clean
      (11L, "unrelated train words entirely here"), // train
    ).toDF("doc_id", "text")
    val out = Dedup.crossCorpusContamination(docs, "doc_id", "text",
        col("doc_id") % 20 === 0, n = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated"))).sortBy(_._1)
    assert(out.toSeq == Seq((20L, 4L, 3L, true), (40L, 4L, 0L, false)))
  }

  test("lshBands rejects bands that do not divide the signature width") {
    val sigs = Seq((1L, Seq(1L, 2L, 3L))).toDF("id", "sig")
    val e = intercept[Exception] {
      Dedup.lshBands(sigs, "id", "sig", 2).collect()
    }
    assert(e.getMessage.contains("must divide"))
    // and the happy path still bands correctly
    assert(Dedup.lshBands(sigs, "id", "sig", 3).count() == 3)
  }

  test("recommendBandConfig: cheapest config meeting the recall floor, loud empty when none does") {
    val audit = Dedup.lshBandAudit(corpus, "doc_id", "text", n = 3,
      threshold = 0.5, k = 16, bandConfigs = Seq(1, 2, 4, 8),
      tokenHasher = Dedup.auditableTokenHash)
    val rows = audit.collect().map(r =>
      (r.getLong(r.fieldIndex("bands")),
        r.getLong(r.fieldIndex("n_candidates")),
        Option(r.get(r.fieldIndex("recall_ppm"))).map(_.asInstanceOf[Long])))
    // The exact dup (1,4) collides in every band of every config, so some
    // config always reaches the floor on this fixture.
    val floor = 500000L
    val chosen = Dedup.recommendBandConfig(audit, floor).collect()
    assert(chosen.length === 1)
    val c = chosen.head
    val cBands = c.getLong(c.fieldIndex("bands"))
    val cCand = c.getLong(c.fieldIndex("n_candidates"))
    assert(c.getLong(c.fieldIndex("recall_ppm")) >= floor)
    // Minimality: no qualifying config has fewer candidates (or equal
    // candidates with fewer bands).
    val qualifying = rows.filter(_._3.exists(_ >= floor))
    assert(qualifying.forall { case (b, n, _) =>
      n > cCand || (n == cCand && b >= cBands) })
    // An unreachable floor yields an EMPTY frame, not a best-effort row.
    assert(Dedup.recommendBandConfig(audit, 1000001L).collect().isEmpty)
  }

  test("simhash: exact dup at Hamming 0; near-dup within 16; unrelated far") {
    val sims = corpus.select(col("doc_id"),
      Dedup.simhash64(Dedup.tokens(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(4L)) === 0)
    assert(ham(sims(1L), sims(2L)) <= 16)
    assert(ham(sims(1L), sims(3L)) > 16)
  }

  test("simhash near-dup pairs finds the exact dup via chunk blocking") {
    val got = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 4L)))
  }

  test("duplicateSpanStats: cross-doc spans merge, within-doc repeats don't count") {
    val docs = Seq(
      // 1 & 2 share the verbatim 7-token passage "p q r s t u v":
      // three overlapping 5-grams merge into ONE span on each side.
      (1L, "a b p q r s t u v c d"),
      (2L, "p q r s t u v x y z w"),
      // 3 repeats its own 5-gram three times — single-document repetition
      // is q73's business, NOT a cross-document duplicated span.
      (3L, "m n o k l m n o k l m n o k l"),
      (4L, "one two three"), // shorter than k: zero grams, clean
      // 5 & 6 share two passages separated by unique middles: the
      // interval merge must report TWO spans, not one bridged blob.
      (5L, "s1 s2 s3 s4 s5 u1 u2 u3 u4 u5 u6 e1 e2 e3 e4 e5"),
      (6L, "s1 s2 s3 s4 s5 w1 w2 w3 w4 w5 w6 e1 e2 e3 e4 e5"),
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out === Array(
      (1L, 11L, 1L, 7L, 0.6364),
      (2L, 11L, 1L, 7L, 0.6364),
      (3L, 15L, 0L, 0L, 0.0),
      (4L, 3L, 0L, 0L, 0.0),
      (5L, 16L, 2L, 10L, 0.625),
      (6L, 16L, 2L, 10L, 0.625)))
  }

  test("removeDuplicateSpans: min-owner keeps the copy, others lose covered tokens") {
    val docs = Seq(
      (1L, "a b p q r s t u v c d"),   // min owner of the shared passage: keeps ALL
      (2L, "p q r s t u v x y z w"),   // drops the 7 covered tokens
      (3L, "one two three"),           // clean, shorter than k
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 11L, 11L, "a b p q r s t u v c d"),
      (2L, 11L, 4L, "x y z w"),
      (3L, 3L, 3L, "one two three")))
    // Conservation: stats and rewrite agree on what was removed.
    val stats = Dedup.duplicateSpanStats(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(stats(1)._2 === 11L - 4L)
  }

  test("containmentAgainstCorpus: near-dup batch doc rejected, novel doc kept") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words live here now okay yes"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (20L, "completely novel content nothing shared at all"),
    ).toDF("doc_id", "text")
    val out = Dedup.containmentAgainstCorpus(batch, corpus, "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("batch_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getLong(2), r.getLong(3), r.getBoolean(5)))
    // doc 10 has 6 three-token windows over its 8 tokens; only the last
    // window touches the changed final token, so 5 of 6 grams are shared
    // with doc 1 -> containment 5/6 = 0.8333 >= 0.8 -> rejected.
    assert(out(0) === ((10L, Some(1L), 5L, 6L, true)))
    assert(out(1) === ((20L, None, 0L, 5L, false))) // 7 tokens -> 5 grams
  }

  test("gram postings index: persisted index gates like the inline path, and maintains incrementally") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words live here now okay yes"),
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (20L, "completely novel content nothing shared at all"),
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-postings")
      .resolve("idx").toString
    // Ingest cycle 1: build the index once, gate the batch against it.
    Dedup.gramPostings(corpus, "doc_id", "text", n = 3)
      .write.mode("overwrite").parquet(idx)
    def gate(b: org.apache.spark.sql.DataFrame) =
      Dedup.containmentAgainstPostings(b, spark.read.parquet(idx),
          "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(5)))
    val inline = Dedup.containmentAgainstCorpus(batch1, corpus, "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("batch_id").collect().map(r => (r.getLong(0), r.getBoolean(5)))
    assert(gate(batch1) === inline, "index path must equal the inline path")
    // Maintenance: append the ACCEPTED doc's postings; a later redelivery
    // of the same text is then rejected against the index alone — the
    // corpus text is never re-tokenized.
    Dedup.gramPostings(batch1.filter(col("doc_id") === 20L), "doc_id", "text", n = 3)
      .write.mode("append").parquet(idx)
    val batch2 = Seq((30L, "completely novel content nothing shared at all"))
      .toDF("doc_id", "text")
    assert(gate(batch2) === Array((30L, true)), "redelivery caught by the maintained index")
  }

  test("embedding near-dup pairs on a hand-built set") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f, 0.0f)), // cos ≈ 0.999
      (3L, Array(0.0f, 1.0f, 0.0f)),    // orthogonal
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }

  // Distinct corpora per lifecycle test: CacheManager keys on the
  // canonicalized plan, so reusing `corpus` would hit caches an earlier
  // test already created and the persistent-RDD delta would be empty.
  def lifecycleCorpus(salt: String) = Seq(
    (11L, s"alpha beta gamma delta epsilon zeta $salt one"),
    (12L, s"alpha beta gamma delta epsilon zeta $salt two"),
    (13L, s"unrelated tokens entirely separate vocabulary $salt"),
  ).toDF("doc_id", "text")

  test("CacheScope: operator caches are released once the output is consumed") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val added = graft.core.CacheScope.using {
      val pairs = Dedup.minhashNearDupPairs(lifecycleCorpus("scoped"), "doc_id", "text",
        n = 3, threshold = 0.5)
      assert(pairs.collect().nonEmpty) // consume → the signature cache materializes
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size === 1, "expected the operator to materialize one cached RDD")
      added
    }
    assert((sc.getPersistentRDDs.keySet & added).isEmpty,
      "operator caches must be gone once using() returns")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("CacheScope.using releases even when the body throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[RuntimeException] {
      graft.core.CacheScope.using {
        Dedup.ngramJaccardPairs(lifecycleCorpus("using"), "doc_id", "text",
            lit(1), 3, 0.5)
          .collect()
        throw new RuntimeException("boom")
      }
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "using() must release scope caches on the failure path too")
  }

  test("CacheScope.using releases a frame cached inside a Parallel.inParallel task") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    graft.core.CacheScope.using {
      val Seq(n) = graft.core.Parallel.inParallel(Seq(() =>
        graft.core.CacheScope.cached(lifecycleCorpus("parallel")).count()))
      assert(n === 3L)
      assert((sc.getPersistentRDDs.keySet -- before).size === 1,
        "the task's count must materialize its cache")
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a task started inside using() records into the same scope")
  }

  test("crossSourceContamination: canonical cells, exact densities, diagonal combinatorics") {
    // Docs 1, 2, 4 are verbatim copies (pairs 1-2, 1-4, 2-4); doc 3
    // shares nothing. Sources: X={1,3,4}, Y={2} → cells: (X,X) holds
    // pair 1-4 over C(3,2)=3 possible; (X,Y) holds 1-2 and 2-4 over
    // 3·1=3 possible.
    val docs = Seq(
      (1L, "a b c d e", "X"), (2L, "a b c d e", "Y"),
      (3L, "z z z q q w w", "X"), (4L, "a b c d e", "X"),
    ).toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceContamination(docs, "doc_id", "text",
        "source", n = 3, thresholdMilli = 500)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out === Seq(
      ("X", "X", 1L, 3L, 3L, 333333333L),
      ("X", "Y", 2L, 3L, 1L, 666666666L)))
  }

  test("ngram novelty: first occurrence wins, re-posts score zero, short docs drop out") {
    val docs = Seq(
      (1L, "a b c d"),       // {abc, bcd} — both first here → 1e6
      (2L, "a b c"),         // {abc} — seen in doc 1 → 0
      (3L, "x y z a b c"),   // {xyz, yza, zab, abc} — 3 of 4 novel
      (4L, "q w"))           // < 3 tokens → no grams, no row
      .toDF("doc_id", "text")
    val grams = docs
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(Dedup.shinglesFromTokens(col("toks"), 3)).as("g"))
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val out = grams.join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000) div n_grams").as("novelty_ppm"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Array(
      (1L, 2L, 2L, 1000000L),
      (2L, 1L, 0L, 0L),
      (3L, 4L, 3L, 750000L)))
  }
}
