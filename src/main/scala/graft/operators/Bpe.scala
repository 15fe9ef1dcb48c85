package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, DriverGuard}

/** Distributed byte-pair-encoding tokenizer training.
  *
  * The standard LLM-tokenizer training loop (Sennrich et al. 2016, and
  * the shape used by production tokenizer trainers): collapse the corpus
  * to WORD TYPES with counts, then repeatedly (a) count weighted adjacent
  * symbol pairs over the word-type table, (b) merge the most frequent
  * pair everywhere it occurs.
  *
  * Scale design — why this survives 100 TB:
  *  - The corpus→word-type aggregation is the one corpus-sized pass
  *    (a hash groupBy on the word string, map-side combined). Zipf's law
  *    makes the word-type table orders of magnitude smaller than the
  *    corpus — THAT table, not the corpus, is what the merge loop
  *    iterates over.
  *  - Each merge iteration is one distributed aggregation (explode
  *    adjacent pairs, weighted count, argmax via a 1-row sort-limit
  *    collect) plus one narrow map applying the merge. No shuffle of the
  *    word table itself inside the loop; only the pair-count aggregate
  *    shuffles, and its key space is the pair vocabulary.
  *  - The merge is applied with one in-place greedy pass per word
  *    ([[applyMergeOnce]] in train; the [[applyMerge]] fold expression
  *    remains the small-list [[encode]] form). Left-to-right greedy
  *    application matches the reference algorithm: in "a a a" with merge
  *    (a,a) the pass produces ["aa","a"], never the overlapping
  *    ["a","aa"] — the write cursor's LAST symbol is what the merge
  *    candidate is checked against.
  *  - Lineage across iterations grows linearly; the loop re-caches the
  *    word-type table every iteration through [[CacheScope]]
  *    and unpersists the previous generation, so the active plan stays
  *    O(1) deep.
  *
  * End-of-word convention: each word is split to characters and a
  * trailing `</w>` marker symbol is appended, so merges distinguish
  * word-final from word-internal contexts (the Sennrich convention).
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Corpus → (word, cnt) word-type table. The single corpus-sized pass. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial symbol decomposition: characters plus the `</w>` marker. */
  def initialSymbols(wordCol: Column): Column =
    concat(split(wordCol, ""), array(lit(EndOfWord)))

  /** Weighted adjacent-pair counts over a (symbols, cnt) word-type table.
    * Output: (left, right, pair_cnt) — the quantity BPE maximizes.
    */
  def pairCounts(words: DataFrame, symbolsCol: String = "symbols",
      cntCol: String = "cnt"): DataFrame = {
    val s = col(symbolsCol)
    val pairs = words.select(col(cntCol).as("cnt"),
      explode(when(size(s) < 2, array().cast("array<struct<l:string,r:string>>"))
        .otherwise(zip_with(slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
          (l, r) => struct(l.as("l"), r.as("r"))))).as("p"))
    pairs.groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("cnt")).as("pair_cnt"))
  }

  /** Apply one merge (left,right)→left+right to a symbol array column via
    * a left fold — greedy left-to-right, exactly the reference semantics.
    */
  def applyMerge(symbolsCol: Column, left: String, right: String): Column = {
    val merged = left + right
    aggregate(
      symbolsCol,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))
  }

  /** One greedy left-to-right merge pass as plain JVM code — the same
    * semantics as [[applyMerge]]'s fold (BpeSpec pins them equal on the
    * overlap cases), but O(len) per word instead of the fold's O(len²)
    * accumulator copies, and — because the merge pair rides the closure
    * instead of plan literals — the training loop's per-generation plan
    * is textually identical across iterations, so its generated code
    * compiles ONCE per train() instead of once per merge. The measured
    * cold cost of the literal form: each generation's fresh codegen put
    * cold q126 iterations at 12–14 s against a 4–5 s steady state.
    */
  private[graft] def applyMergeOnce(left: String, right: String)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val merged = left + right
    udf { (syms: Seq[String]) =>
      if (syms == null) null
      else {
        val n = syms.length
        val out = new Array[String](n)
        var read = 0
        var write = 0
        while (read < n) {
          val x = syms(read)
          if (write > 0 && out(write - 1) == left && x == right)
            out(write - 1) = merged
          else { out(write) = x; write += 1 }
          read += 1
        }
        if (write == n) out else java.util.Arrays.copyOfRange(out, 0, write)
      }
    }
  }

  /** Train `numMerges` BPE merges over the corpus. Returns the learned
    * merge table (rank, left, right, pair_cnt, tokens_after) in learning
    * order — `tokens_after` is the total weighted corpus token count
    * once that merge applies everywhere (the tokenizer learning curve;
    * strictly decreasing, with per-merge drop ≤ pair_cnt because greedy
    * application collapses overlapping occurrences).
    *
    * Argmax tie-break is deterministic: highest count, then
    * lexicographic (left, right) — engine-order-independent, so two runs
    * (or two cluster layouts) learn the identical merge sequence.
    *
    * Two paths, chosen by measured word-TYPE count — the
    * [[Dedup.duplicateClusters]] guard applied to tokenizer training:
    *  - vocabulary ≤ `driverMaxWordTypes` (the common case — Zipf makes
    *    the type table orders of magnitude smaller than the corpus):
    *    collect the TYPE table (never the corpus) and run the identical
    *    greedy loop as plain JVM code. The corpus-sized wordCounts pass
    *    still runs distributed; what disappears is numMerges+1 tiny
    *    scheduler-bound aggregation jobs over a table of a few (hundred)
    *    thousand rows, whose per-job fixed cost dominated training
    *    end-to-end.
    *  - larger (a 100 TB long-tail vocabulary): the distributed
    *    one-aggregation-per-merge loop below, unchanged; the overflow
    *    probe's blocks are already cached.
    * Both paths produce the identical merge table (same argmax total
    * order, same greedy application, same early-exhaustion semantics —
    * BpeSpec pins local == distributed on tie/overlap corpora).
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      driverMaxWordTypes: Int = 500 * 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    // One cached word-type generation is live at a time. ORDER MATTERS:
    // each new generation is materialized (by an action on it) BEFORE the
    // previous one is unpersisted — the new cache is built by reading the
    // previous generation's blocks, so dropping those first would force a
    // full-lineage recompute (the corpus-sized wordCounts pass plus every
    // prior applyMerge) on every iteration.
    var cached = CacheScope.cached(wordCounts(df, textCol)
      .select(initialSymbols(col("word")).as("symbols"), col("cnt")))
    // ONE guarded pass decides the path AND (in the common case) delivers
    // the word table (DriverGuard): the corpus-sized wordCounts plan runs
    // once either way.
    val guarded = DriverGuard.collectUpTo(cached, driverMaxWordTypes)
    if (guarded.isDefined) {
      cached.unpersist()
      return trainLocal(spark,
        guarded.get.map(_.getSeq[String](0).toArray),
        guarded.get.map(_.getLong(1)), numMerges)
    }
    // Total word instances: invariant under merges (a merge shrinks symbol
    // arrays, never word multiplicities). This tiny aggregate materializes
    // generation 0 and anchors the exact tokens_after identity below:
    //   Σ cnt·|symbols|  =  Σ cnt·(pairs_per_word + 1)
    //                    =  (Σ over pair types of pair_cnt) + Σ cnt
    // so the per-merge corpus token count falls out of the SAME pair-count
    // aggregation the next argmax already runs — one distributed
    // aggregation per merge instead of the former two (argmax + a separate
    // full word-table tokens pass), measured ~2× on the training loop.
    val totalWords = cached.agg(coalesce(sum(col("cnt")), lit(0L)).cast("long"))
      .as[Long].head()

    val entries = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    val tokensAfter = scala.collection.mutable.ArrayBuffer[Long]()
    var prev: DataFrame = null
    var rank = 0
    var done = false
    while (!done) {
      // ONE pass over the pair-count table yields both the argmax (highest
      // count, then lexicographic (left, right) — encoded as min of
      // struct(-cnt, left, right), the same total order as the former
      // orderBy(desc, asc, asc).limit(1)) and the total pair mass, which
      // via the identity above is the PREVIOUS merge's tokens_after.
      val row = pairCounts(cached)
        .agg(min(struct((-col("pair_cnt")).as("nc"), col("left").as("l"),
            col("right").as("r"))).as("top"),
          sum(col("pair_cnt")).as("tp"))
        .select(col("top.nc"), col("top.l"), col("top.r"), col("tp"))
        .head()
      // That action materialized `cached`; only now is the previous
      // generation safe to drop (its blocks fed the build).
      if (prev != null) { prev.unpersist(); prev = null }
      if (rank > 0)
        tokensAfter += (if (row.isNullAt(3)) 0L else row.getLong(3)) + totalWords
      if (!row.isNullAt(0) && rank < numMerges) {
        val (l, r, c) = (row.getString(1), row.getString(2), -row.getLong(0))
        entries += ((rank, l, r, c))
        prev = cached
        cached = CacheScope.cached(cached.select(
          applyMergeOnce(l, r)(col("symbols")).as("symbols"), col("cnt")))
        rank += 1
      } else done = true
    }
    // The last generation is not part of the output (the merge table is
    // driver-built) — drop it or it leaks in the cache for the session.
    cached.unpersist()

    entries.zip(tokensAfter).map { case ((rk, l, r, c), ta) => (rk, l, r, c, ta) }
      .toSeq.toDF("rank", "left", "right", "pair_cnt", "tokens_after")
  }

  /** Byte-wise UTF-8 ordering — Spark compares strings as UTF8String
    * (unsigned byte lexicographic), which Java's String.compareTo does
    * NOT match beyond the BMP (UTF-16 surrogates order below U+E000).
    * The local argmax must break ties exactly like the distributed
    * min(struct(-cnt, left, right)).
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** The under-cap training path: the identical greedy loop over the
    * collected word-type table. Per merge: one weighted adjacent-pair
    * count ([[pairCounts]] semantics), one argmax under the same total
    * order (count desc, then byte-wise-lex (left, right) — [[utf8Lt]]),
    * one in-place greedy pass per word (the [[applyMergeOnce]] cursor
    * loop), and tokens_after read directly as Σ cnt·|symbols| — the
    * same quantity the distributed loop derives from the next pass's
    * pair mass via Σ cnt·|symbols| = Σ pair_cnt + Σ cnt.
    */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
      syms: Array[Array[String]], cnts: Array[Long],
      numMerges: Int): DataFrame = {
    import spark.implicits._
    val entries =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    var rank = 0
    var done = false
    while (!done) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      var i = 0
      while (i < syms.length) {
        val s = syms(i); val c = cnts(i)
        var j = 0
        while (j < s.length - 1) {
          counts.merge((s(j), s(j + 1)), c, (a, b) => a + b)
          j += 1
        }
        i += 1
      }
      if (!counts.isEmpty && rank < numMerges) {
        var bl: String = null; var br: String = null; var bc = 0L
        counts.forEach { (k, v) =>
          val c = v.longValue()
          if (bl == null || c > bc || (c == bc &&
              (utf8Lt(k._1, bl) || (k._1 == bl && utf8Lt(k._2, br))))) {
            bl = k._1; br = k._2; bc = c
          }
        }
        val merged = bl + br
        var tokens = 0L
        i = 0
        while (i < syms.length) {
          val s = syms(i)
          val out = new Array[String](s.length)
          var read = 0
          var write = 0
          while (read < s.length) {
            val x = s(read)
            if (write > 0 && out(write - 1) == bl && x == br)
              out(write - 1) = merged
            else { out(write) = x; write += 1 }
            read += 1
          }
          syms(i) =
            if (write == s.length) out
            else java.util.Arrays.copyOfRange(out, 0, write)
          tokens += cnts(i) * write
          i += 1
        }
        entries += ((rank, bl, br, bc, tokens))
        rank += 1
      } else done = true
    }
    entries.toSeq.toDF("rank", "left", "right", "pair_cnt", "tokens_after")
  }

  /** Hard ceiling for [[encode]]'s expression form: each merge nests one
    * `aggregate` higher-order function, so analyzer recursion and Janino
    * method size grow linearly with merge count — fine for a bounded
    * list, a stack overflow waiting to happen for a real vocabulary.
    * Production-size merge lists go through [[encodeTable]].
    */
  val MaxExpressionMerges = 64

  /** Encode a text column with a SMALL learned merge list (applied in
    * rank order to each word). Returns the tokenized array column.
    * Merges are literals folded into the plan — fully codegen'd, no
    * serde boundary — which is exactly why the list must stay small: the
    * expression tree is `merges.size` aggregates deep (enforced ≤
    * [[MaxExpressionMerges]]). For trained-tokenizer-sized lists
    * (thousands of merges) use [[encodeTable]].
    */
  def encode(textCol: Column, merges: Seq[(String, String)]): Column = {
    require(merges.size <= MaxExpressionMerges,
      s"encode() nests one aggregate() per merge (${merges.size} > " +
        s"$MaxExpressionMerges): analyzer/codegen depth is linear in the " +
        "merge count — use encodeTable() for large merge lists")
    val words = split(trim(lower(textCol)), "\\s+")
    flatten(transform(words, w =>
      merges.foldLeft(initialSymbols(w))((acc, m) => applyMerge(acc, m._1, m._2))))
  }

  /** Encode at production vocabulary size: adds `outCol` (array<string>
    * tokens) to `df` by running the greedy merge loop as plain JVM code
    * over a broadcast merge list — one imperative function, ONE pass over
    * the data, plan depth O(1) regardless of merge count.
    *
    * This is the repo's one deliberate scalar-function-as-UDF: the
    * per-word loop is `merges.size` sequential passes whose intermediate
    * is a variable-length array — inexpressible as a bounded-depth
    * Catalyst expression (the fold form above grows one nested aggregate
    * per merge), and a custom Expression would still pay the same
    * per-row loop without codegen fusing anything across merges. The
    * merge list rides an explicit sparkContext.broadcast (vocabulary-
    * sized, shipped once per executor, not once per task closure).
    * Token semantics are pinned to [[encode]]'s by BpeSpec (identical
    * output on the same merge list).
    */
  def encodeTable(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], outCol: String = "tokens"): DataFrame = {
    // (left, right, left+right) triples: the merged symbol is allocated
    // once here, not once per occurrence per row.
    val bc = df.sparkSession.sparkContext.broadcast(
      merges.map { case (l, r) => (l, r, l + r) }.toArray)
    val enc = udf { (text: String) =>
      if (text == null) null
      else {
        val ms = bc.value
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        text.trim.toLowerCase.split("\\s+").iterator
          .filter(_.nonEmpty)
          .foreach { w =>
            // Hot loop, imperative on purpose: the per-word cost is
            // merges.size sequential in-place passes over a small String
            // array. The previous Seq-of-Seq form (regex split("") +
            // one ArrayBuffer copy per merge pass) allocated ~2·|merges|
            // collections per word; this allocates one array per word.
            var n = w.length + 1
            val syms = new Array[String](n)
            var i = 0
            while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
            syms(w.length) = EndOfWord
            var mi = 0
            while (mi < ms.length) {
              val (l, r, lr) = ms(mi)
              // Greedy left-to-right single-merge pass, checked against
              // the WRITE cursor's last symbol — [[applyMerge]]'s fold
              // semantics ("a a a" under (a,a) → [aa, a]) in place.
              var read = 0
              var write = 0
              while (read < n) {
                val x = syms(read)
                if (write > 0 && syms(write - 1) == l && x == r)
                  syms(write - 1) = lr
                else { syms(write) = x; write += 1 }
                read += 1
              }
              n = write
              mi += 1
            }
            var k = 0
            while (k < n) { out += syms(k); k += 1 }
          }
        out.toArray
      }
    }
    df.withColumn(outCol, enc(col(textCol)))
  }

}
