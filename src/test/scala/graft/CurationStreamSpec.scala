package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestCommit
import graft.streaming.CurationStream

/** Streaming twin of the q97 curation chain: per-micro-batch quality
  * gate → in-batch dedup → corpus near-dup gate over the maintained
  * postings index → one transactional three-table commit (docs,
  * postings, sketch).
  */
class CurationStreamSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // 25 distinct words, > 100 chars — passes the quality gate and carries
  // 23 distinct 3-gram shingles.
  private val words = ('a' to 'y').map(c => s"word$c$c$c").mkString(" ")
  private def doc(id: Long, text: String) = (id, text, text.length.toLong)
  private val textA = words
  private val textAEnd = words.split(" ").dropRight(1).mkString(" ") + " tailchange"
  private val textAFront = "headchange " + words.split(" ").drop(1).mkString(" ")
  private val textB = ('a' to 'y').map(c => s"other$c$c$c").mkString(" ")
  private val textC = ('a' to 'y').map(c => s"fresh$c$c$c").mkString(" ")

  private def df(rows: (Long, String, Long)*) =
    rows.toSeq.toDF("doc_id", "text", "n_chars")

  /** Expected cumulative distinct-shingle estimate, recomputed straight
    * from the HLL spec (hash60/rank/estimateMilli) over the 3-gram
    * shingles of the given accepted texts — the independent replay of
    * what [[CurationStream.ShingleHllTable]]'s fold must report.
    */
  private def expectedShingleEstMilli(texts: String*): Long =
    graft.functions.HyperLogLog.estimateMilli(expectedRegs(texts: _*),
      CurationStream.ShingleHllP)

  /** The HLL registers of the 3-gram shingles of `texts`, replayed from
    * the spec as [[expectedShingleEstMilli]] describes.
    */
  private def expectedRegs(texts: String*): Seq[Int] = {
    import graft.functions.HyperLogLog
    val p = CurationStream.ShingleHllP
    val regs = new Array[Int](1 << p)
    // Case-PRESERVING tokens (Dedup.tokens), matching the postings index
    // the estimate is documented to size — not TextAnalysis.tokens'
    // lowercased stream.
    texts.foreach { t =>
      t.trim.split("\\s+").toSeq.sliding(3)
        .filter(_.size == 3).map(_.mkString(" ")).foreach { g =>
          val hv = HyperLogLog.hash60(g)
          val idx = (hv >>> (60 - p)).toInt
          val r = HyperLogLog.rank(hv, p)
          if (r > regs(idx)) regs(idx) = r
        }
    }
    regs.toSeq
  }

  test("curateBatch: gates, in-batch dedup, corpus gate, PK replay — all idempotent") {
    val root = Files.createTempDirectory("graft-curation").toString

    // Batch 1: A, its in-batch near-dup, an unrelated B, and a too-short doc.
    val r1 = CurationStream.curateBatch(
      df(doc(1, textA), doc(2, textAEnd), doc(3, textB), (4L, "tiny", 4L)), root)
    // privacyBelowKPpm = 1000000: the two accepted docs land in distinct
    // 100-char length buckets (199 → 1, 224 → 2), so both QI classes are
    // singletons below k=5.
    assert(r1 === CurationStream.BatchReport(4, 3, 1, 0, 2, Some(1L), 1000000L,
      0L, expectedShingleEstMilli(textA, textB)))
    assert(ManifestCommit.readTable(spark, root, CurationStream.AcceptedTable)
      .get.select("doc_id").as[Long].collect().sorted === Array(1L, 3L))

    // Batch 2: a near-dup of A (clusters with the replayed doc 1 IN
    // BATCH — survivor is the smaller id), an exact replay of doc 1
    // (survives in-batch, rejected by the corpus gate), and a fresh doc.
    val r2 = CurationStream.curateBatch(
      df(doc(5, textAFront), doc(1, textA), doc(6, textC)), root)
    assert(r2 === CurationStream.BatchReport(3, 3, 1, 1, 1, Some(2L), 1000000L,
      0L, expectedShingleEstMilli(textA, textB, textC)))
    assert(ManifestCommit.readTable(spark, root, CurationStream.AcceptedTable)
      .get.select("doc_id").as[Long].collect().sorted === Array(1L, 3L, 6L))

    // Full replay of batch 2 (the crash-after-commit window): nothing
    // accepted, no version advance, corpus unchanged.
    val r3 = CurationStream.curateBatch(
      df(doc(5, textAFront), doc(1, textA), doc(6, textC)), root)
    assert(r3.accepted === 0L && r3.version.isEmpty)
    assert(r3.privacyBelowKPpm === 0L) // nothing accepted → nothing exposed
    // The cumulative sketch is replay-stable: no commit, no new register
    // row, the estimate is exactly batch 2's.
    assert(r3.corpusShingleEstMilli === r2.corpusShingleEstMilli)
    assert(ManifestCommit.currentManifest(spark, root).get.version === 2L)

    // Gram-free docs (< n tokens) are accepted once and replay-idempotent
    // via the PK backstop, not the gram gate.
    val short = (7L, "one " + "x" * 100, 104L)
    assert(CurationStream.curateBatch(df(short), root).accepted === 1L)
    assert(CurationStream.curateBatch(df(short), root).accepted === 0L)

    // Postings and corpus were committed in lockstep: every accepted doc
    // with >= 3 tokens has postings, nothing else does.
    val postedIds = ManifestCommit.readTable(spark, root, CurationStream.PostingsTable)
      .get.select("corpus_id").distinct().as[Long].collect().sorted
    assert(postedIds === Array(1L, 3L, 6L))
  }

  test("curateBatch leaves no cache behind: per-batch state does not grow with the stream") {
    val root = Files.createTempDirectory("graft-curation-leak").toString
    // Start from an empty cache manager, so any cache left afterwards is
    // the batches' own.
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val before = sc.getPersistentRDDs.keySet
    Seq(df(doc(1, textA), doc(2, textAEnd), doc(3, textB)),
        df(doc(5, textAFront), doc(6, textC)),
        df(doc(7, textAEnd), (8L, "one " + "x" * 100, 104L))).zipWithIndex.foreach {
      case (batch, i) =>
        val r = CurationStream.curateBatch(batch, root)
        assert(r.accepted > 0L, s"batch $i: $r")
        assert(sc.getPersistentRDDs.keySet === before,
          s"batch $i left ${(sc.getPersistentRDDs.keySet -- before).size} cached RDDs")
        assert(cacheManager.isEmpty, s"batch $i left a cached plan")
    }
  }

  test("run: AvailableNow stream curates incrementally across restarts") {
    val src = Files.createTempDirectory("graft-cstream-src").toString
    val root = Files.createTempDirectory("graft-cstream-root").toString
    val ckpt = Files.createTempDirectory("graft-cstream-ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", LongType)))
    val reports = scala.collection.mutable.ArrayBuffer.empty[CurationStream.BatchReport]

    def drive(): Unit = {
      val q = CurationStream.run(
        spark.readStream.schema(schema).parquet(src), root, ckpt,
        onBatch = reports += _)
      q.awaitTermination()
    }

    df(doc(1, textA), doc(3, textB)).write.mode("append").parquet(src)
    drive()
    assert(ManifestCommit.readTable(spark, root, CurationStream.AcceptedTable)
      .get.count() === 2L)

    // Restart with new files: the near-dup of A is gated by the index
    // built in the PREVIOUS run; only the fresh doc lands.
    df(doc(5, textAFront), doc(6, textC)).write.mode("append").parquet(src)
    drive()
    assert(ManifestCommit.readTable(spark, root, CurationStream.AcceptedTable)
      .get.select("doc_id").as[Long].collect().sorted === Array(1L, 3L, 6L))
    assert(reports.map(_.accepted).sum === 3L)
  }

  test("sketch compaction: fold-to-one-row moves nothing a reader can see") {
    val root = Files.createTempDirectory("graft-curation-compact").toString
    def hllRows() = ManifestCommit
      .readTable(spark, root, CurationStream.ShingleHllTable)
      .map(_.collect().map(_.getSeq[Int](0).toSeq).toSeq).getOrElse(Nil)
    // compactEvery=2: the second commit triggers the fold.
    val r1 = CurationStream.curateBatch(df(doc(1, textA)), root,
      hllCompactEvery = 2)
    assert(hllRows().size === 1)
    val r2 = CurationStream.curateBatch(df(doc(2, textB)), root,
      hllCompactEvery = 2)
    // Folded: ONE row whose registers are the element-wise max of the two
    // committed rows — and the estimate is EXACTLY the uncompacted fold.
    assert(hllRows().size === 1)
    assert(r2.corpusShingleEstMilli === expectedShingleEstMilli(textA, textB))
    assert(r2.corpusShingleEstMilli >= r1.corpusShingleEstMilli)
    // The next commit appends beside the folded row and the cumulative
    // estimate still reads as if nothing was ever compacted.
    val r3 = CurationStream.curateBatch(df(doc(6, textC)), root,
      hllCompactEvery = 99)
    assert(hllRows().size === 2)
    assert(r3.corpusShingleEstMilli ===
      expectedShingleEstMilli(textA, textB, textC))
    // Re-folding a folded table is a no-op on the read (idempotence).
    ManifestCommit.replaceTable(spark, root,
        CurationStream.ShingleHllTable)(_.map { d =>
      d.select(col("sketch_v"), posexplode(col("regs")).as(Seq("idx", "r")))
        .groupBy(col("idx"))
        .agg(max(col("r")).as("r"), max(col("sketch_v")).as("sv"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(idx, r))), s -> s.r)")
          .as("regs"), max(col("sv")).as("sketch_v"))
    })
    val folded = hllRows()
    assert(folded.size === 1)
    assert(graft.functions.HyperLogLog.estimateMilli(folded.head,
      CurationStream.ShingleHllP) === r3.corpusShingleEstMilli)
  }

  test("sketch-schema version gate: a foreign-version sketch table refuses to merge") {
    val root = Files.createTempDirectory("graft-curation-skv").toString
    val r1 = CurationStream.curateBatch(df(doc(1, textA)), root)
    assert(r1.accepted === 1L)
    // Rewrite the committed sketch row with a stale version stamp — the
    // signature of a store built by an older tokenizer. The next batch
    // must refuse loudly instead of silently max-merging two gram
    // populations into one register fold.
    ManifestCommit.replaceTable(spark, root,
        CurationStream.ShingleHllTable)(_.map { d =>
      d.select(col("regs"), lit(1).as("sketch_v"))
    })
    val e = intercept[IllegalArgumentException] {
      CurationStream.curateBatch(df(doc(2, textB)), root)
    }
    assert(e.getMessage.contains("sketch_v"))
    // An UNVERSIONED table (pre-stamp schema) refuses the same way.
    val root2 = Files.createTempDirectory("graft-curation-skv2").toString
    val r2 = CurationStream.curateBatch(df(doc(1, textA)), root2)
    assert(r2.accepted === 1L)
    ManifestCommit.replaceTable(spark, root2,
        CurationStream.ShingleHllTable)(_.map(_.select(col("regs"))))
    val e2 = intercept[IllegalArgumentException] {
      CurationStream.curateBatch(df(doc(2, textB)), root2)
    }
    assert(e2.getMessage.contains("unversioned"))
  }

  test("in-cycle privacy gate: k-anonymity ppm over the accepted frame") {
    val root = Files.createTempDirectory("graft-curation-priv").toString
    // 5 mutually-distinct docs in ONE 100-char length bucket (6-char
    // words x 25 = 174 chars -> bucket 1): a full k=5 class, nothing
    // below k.
    val five = (0 until 5).map(d =>
      doc(10 + d, ('a' to 'y').map(c => s"p${d}x$c$c$c").mkString(" ")))
    val r1 = CurationStream.curateBatch(df(five: _*), root)
    assert(r1.accepted === 5L && r1.privacyBelowKPpm === 0L)

    // Add a singleton bucket: 1 of 6 accepted rows is below k -> exact
    // integer ppm 166666 (1000000 div 6).
    val root2 = Files.createTempDirectory("graft-curation-priv2").toString
    val longDoc = doc(99, ('a' to 'y').map(c => s"qzz${c}wide$c$c$c").mkString(" "))
    val r2 = CurationStream.curateBatch(df((five :+ longDoc): _*), root2)
    assert(r2.accepted === 6L && r2.privacyBelowKPpm === 166666L)
  }

  test("cumulative shingle sketch: one row per commit, monotone, gram-free-safe") {
    val root = Files.createTempDirectory("graft-curation-hll").toString
    val r1 = CurationStream.curateBatch(df(doc(1, textA)), root)
    assert(r1.corpusShingleEstMilli === expectedShingleEstMilli(textA))
    val r2 = CurationStream.curateBatch(df(doc(2, textB)), root)
    assert(r2.corpusShingleEstMilli === expectedShingleEstMilli(textA, textB))
    // Distinct-shingle mass only grows: the merged estimate is monotone.
    assert(r2.corpusShingleEstMilli >= r1.corpusShingleEstMilli)
    // A gram-free accepted doc commits an all-zero register row — the
    // estimate must not move (element-wise max is idempotent on zeros).
    val r3 = CurationStream.curateBatch(df((9L, "one " + "z" * 100, 104L)), root)
    assert(r3.accepted === 1L)
    assert(r3.corpusShingleEstMilli === r2.corpusShingleEstMilli)
    // One register row per committed batch, in the SAME manifest family.
    val rows = ManifestCommit.readTable(spark, root, CurationStream.ShingleHllTable)
      .get.collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getSeq[Int](0).length === 1 << CurationStream.ShingleHllP))
  }

  test("in-cycle media container gate: probe mismatches drop, itemized") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-curation-media").toString
    val good = graft.operators.Multimodal.syntheticPng(1, 4, 3)
    val corrupt = Array[Byte](1, 2, 3)
    val mislabeled = graft.operators.Multimodal.syntheticPng(3, 5, 5)
    val rows = Seq(
      (1L, textA, textA.length.toLong, good, "image/png", 4, 3),
      (2L, textB, textB.length.toLong, corrupt, "image/png", 4, 3),
      // Real PNG, wrong declared dims — exactly the mislabel q143 catches.
      (3L, textC, textC.length.toLong, mislabeled, "image/png", 9, 9),
      // Fails the TEXT gate; its (valid) blob must not be probed back in.
      (4L, "tiny", 4L, good, "image/png", 4, 3))
      .toDF("doc_id", "text", "n_chars", "media", "format", "width", "height")
    val r = CurationStream.curateBatch(rows, root, validateMedia = true)
    // Chain telescopes: 4 received → 3 pass text → 2 media-rejected →
    // 1 survivor → 1 accepted; the lone accepted doc is a singleton QI
    // class below k.
    assert(r === CurationStream.BatchReport(4, 3, 0, 0, 1, Some(1L),
      1000000L, 2L, expectedShingleEstMilli(textA)))
    assert(ManifestCommit.readTable(spark, root, CurationStream.AcceptedTable)
      .get.select("doc_id").as[Long].collect() === Array(1L))
    // validateMedia off: same batch sails through on text alone.
    val root2 = Files.createTempDirectory("graft-curation-media2").toString
    val r2 = CurationStream.curateBatch(rows, root2)
    assert(r2.accepted === 3L && r2.mediaRejected === 0L)
  }

  /** Jobs of one warm batch that accepts rows on top of committed docs,
    * postings and sketch: the stage counts and the dedup chain with its
    * broadcasts, the corpus gate, one collect of the sketch rows, one
    * register aggregate, three delta writes and the privacy audit.
    * Measured at 37 on this fixture. The batch used to run 40, with one
    * schema-inference job for each of the three committed tables, and
    * 43 before that: it also collected the distinct `sketch_v` values in
    * a job of their own, and ran the register aggregate a second time
    * inside the sketch write.
    */
  private val BatchJobBudget = 37

  test("warm batch stays within its job budget") {
    val root = Files.createTempDirectory("graft-curation-budget").toString
    CurationStream.curateBatch(df(doc(1, textA), doc(3, textB)), root)
    val jobs = SparkJobs.groupsDuring(spark) {
      val r = CurationStream.curateBatch(
        df(doc(5, textAFront), doc(6, textC), doc(7, textAEnd)), root)
      assert(r.accepted === 1L && r.version === Some(2L), r)
    }.size
    assert(jobs <= BatchJobBudget, s"$jobs jobs for one batch, budget $BatchJobBudget")
  }

  test("compaction batch: one version, the fold replaces the sketch rows in the data commit") {
    val root = Files.createTempDirectory("graft-curation-fold").toString
    CurationStream.curateBatch(df(doc(1, textA)), root, hllCompactEvery = 3)
    CurationStream.curateBatch(df(doc(3, textB)), root, hllCompactEvery = 3)
    val prior = ManifestCommit.readTable(spark, root, CurationStream.ShingleHllTable)
      .get.collect().map(_.getSeq[Int](0).toSeq).toSeq
    assert(prior.size === 2)
    val before = ManifestCommit.currentManifest(spark, root).get
    // The third row reaches hllCompactEvery = 3: this batch folds.
    val r = CurationStream.curateBatch(df(doc(6, textC)), root, hllCompactEvery = 3)
    val after = ManifestCommit.currentManifest(spark, root).get
    assert(r.version === Some(before.version + 1))
    assert(ManifestCommit.versions(spark, root) === (1L to after.version).toSeq)
    assert(after.version === before.version + 1)
    // Docs and postings were appended in that same version; the sketch's
    // delta list was replaced by one delta holding one row.
    for (t <- Seq(CurationStream.AcceptedTable, CurationStream.PostingsTable))
      assert(after.tables(t).size === before.tables(t).size + 1, t)
    assert(after.tables(CurationStream.ShingleHllTable).size === 1)
    val rows = ManifestCommit.readTable(spark, root, CurationStream.ShingleHllTable)
      .get.collect()
    assert(rows.length === 1)
    val expected = (prior :+ expectedRegs(textC))
      .reduce((a, b) => a.zip(b).map { case (x, y) => math.max(x, y) })
    assert(rows.head.getSeq[Int](0).toSeq === expected)
    assert(rows.head.getAs[Int]("sketch_v") === CurationStream.ShingleHllSchemaVersion)
    assert(r.corpusShingleEstMilli === expectedShingleEstMilli(textA, textB, textC))
  }

  test("a failure in the concurrent commit phase rethrows it and publishes nothing") {
    val root = Files.createTempDirectory("graft-curation-fail").toString
    CurationStream.curateBatch(df(doc(1, textA)), root)
    val before = ManifestCommit.currentManifest(spark, root).get
    // A quasi-identifier that fails at run time: only the privacy audit
    // evaluates it, and it runs beside the three delta writes.
    val failingQi = Seq(expr("if(n_chars > 0, raise_error('qi projection failed'), 0)")
      .as("qi"))
    val e = intercept[Exception] {
      CurationStream.curateBatch(df(doc(6, textC)), root, privacyQi = failingQi)
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(e.getMessage.contains("qi projection failed"), e)
    // Nothing was published: same version, same referenced deltas.
    assert(ManifestCommit.currentManifest(spark, root).get === before)
    // The batch commits cleanly once the audit can run.
    val r = CurationStream.curateBatch(df(doc(6, textC)), root)
    assert(r.accepted === 1L && r.version === Some(before.version + 1))
  }
}
