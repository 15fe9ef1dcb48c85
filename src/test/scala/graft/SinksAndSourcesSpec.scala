package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{PaginatedSource, Sinks}

class SinksAndSourcesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("t").toString

  test("dedupAppend sink: re-appending the same batch is a no-op (idempotent cycles)") {
    val path = tmpDir("dedup-append")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Sinks.dedupAppend(spark, batch, path, Seq("id")).rows === 2L)
    assert(Sinks.dedupAppend(spark, batch, path, Seq("id")).rows === 0L) // PK rejects dupes
    val batch2 = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    assert(Sinks.dedupAppend(spark, batch2, path, Seq("id")).rows === 1L)
    assert(spark.read.parquet(path).count() === 3L)
  }

  test("compactFiles: many small files -> few, identical data, no-op when compact") {
    val path = tmpDir("compact")
    // 20 single-row appends → 20+ small files
    (0 until 20).foreach { i =>
      Sinks.append(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), path)
    }
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq
    val (nBefore, nAfter) = Sinks.compactFiles(spark, path, targetFileBytes = 1L << 20)
    assert(nBefore >= 20 && nAfter === 1, s"$nBefore -> $nAfter")
    assert(spark.read.parquet(path).orderBy("id").collect().toSeq === before)
    // already compact → no rewrite
    assert(Sinks.compactFiles(spark, path, 1L << 20) === ((1, 1)))
  }

  test("compactFiles on a partitioned table: per-partition rewrite, layout preserved") {
    val path = tmpDir("compact-part")
    (0 until 10).foreach { i =>
      Seq((i.toLong, s"d${i % 2}", s"v$i")).toDF("id", "load_date", "v")
        .coalesce(1).write.mode("append").partitionBy("load_date").parquet(path)
    }
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq
    val (nBefore, nAfter) = Sinks.compactFiles(spark, path, targetFileBytes = 1L << 20)
    assert(nBefore >= 10 && nAfter === 2, s"$nBefore -> $nAfter") // one file per partition
    val after = spark.read.parquet(path)
    assert(after.orderBy("id").collect().toSeq === before)
    // partition pruning still works on the directory-derived column
    assert(after.filter(col("load_date") === "d0").count() === 5)
  }

  test("partition-scoped compactFiles: only touched leaves rewritten, others byte-identical") {
    val path = tmpDir("compact-touched")
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"d${i % 2}", s"v$i")).toDF("id", "load_date", "v")
        .coalesce(1).write.mode("append").partitionBy("load_date").parquet(path)
    }
    // Ingest into d0 only — the returned touched list drives the compaction.
    val res = Sinks.dedupAppend(spark,
      Seq((100L, "d0", "w")).toDF("id", "load_date", "v"),
      path, Seq("id"), partitionBy = Seq("load_date"))
    assert(res.rows === 1L && res.touchedPartitions === Seq("load_date=d0"))
    def snap(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val d1Before = snap(s"$path/load_date=d1")
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq
    val (nb, na) = Sinks.compactFiles(spark, path, 1L << 20, res.touchedPartitions)
    assert(nb >= 4 && na === 1, s"$nb -> $na") // only d0's files counted/rewritten
    assert(snap(s"$path/load_date=d1") === d1Before, "untouched leaf must not be rewritten")
    assert(spark.read.parquet(path).orderBy("id").collect().toSeq === before)
    // a typo'd partition fails loudly, never reads as "already compact"
    intercept[IllegalArgumentException] {
      Sinks.compactFiles(spark, path, 1L << 20, Seq("load_date=nope"))
    }
  }

  test("compactFiles recovers interrupted leaf swaps (hidden and legacy staging)") {
    val path = tmpDir("compact-crash")
    (0 until 4).foreach { i =>
      Seq((i.toLong, s"d${i % 2}", s"v$i")).toDF("id", "load_date", "v")
        .coalesce(1).write.mode("append").partitionBy("load_date").parquet(path)
    }
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq
    // Crash between swapLeaf's renames: d0's only copy sits at the hidden
    // backup. Crash in the LEGACY scheme: d1's only copy at `<leaf>.old`,
    // plus a stale `<leaf>.tmp` a partition listing must never resurrect.
    val root = new java.io.File(path)
    assert(new java.io.File(root, "load_date=d0")
      .renameTo(new java.io.File(root, ".graft-old-load_date=d0")))
    assert(new java.io.File(root, "load_date=d1")
      .renameTo(new java.io.File(root, "load_date=d1.old")))
    val staleTmp = new java.io.File(root, "load_date=d1.tmp")
    assert(staleTmp.mkdir())
    val (nb, na) = Sinks.compactFiles(spark, path, 1L << 20)
    assert(nb === 4 && na === 2, s"$nb -> $na") // both leaves recovered, then compacted
    assert(spark.read.parquet(path).orderBy("id").collect().toSeq === before)
    assert(!staleTmp.exists, "stale legacy staging must be removed, not listed as a partition")
    assert(root.listFiles().map(_.getName).forall(n =>
      !n.startsWith(".graft-") && !n.endsWith(".old") && !n.endsWith(".tmp")))
  }

  test("compactFiles compacts nested k1=a/k2=b layouts at the true leaves") {
    val path = tmpDir("compact-nested")
    (0 until 8).foreach { i =>
      Seq((i.toLong, s"a${i % 2}", s"b${i % 2}", s"v$i")).toDF("id", "k1", "k2", "v")
        .coalesce(1).write.mode("append").partitionBy("k1", "k2").parquet(path)
    }
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq
    val (nb, na) = Sinks.compactFiles(spark, path, 1L << 20)
    assert(nb >= 8 && na === 2, s"$nb -> $na") // one file per (k1,k2) leaf
    val after = spark.read.parquet(path)
    assert(after.orderBy("id").collect().toSeq === before)
    assert(after.filter(col("k1") === "a0" && col("k2") === "b0").count() === 4)
    // the nested leaf is addressable by its relative path too
    assert(Sinks.compactFiles(spark, path, 1L << 20, Seq("k1=a0/k2=b0")) === ((1, 1)))
  }

  test("mergeUpsert sink rewrites target with merged content (L5)") {
    val path = tmpDir("merge")
    Sinks.truncateInsert(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), path)
    Sinks.mergeUpsert(spark, Seq((2L, 99.0), (3L, 30.0)).toDF("id", "bal"), path, Seq("id"))
    val out = spark.read.parquet(path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(out === Array((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("retentionDelete keeps only rows past the cutoff (L7)") {
    val path = tmpDir("retention")
    Sinks.truncateInsert(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))).toDF("id", "ts"), path)
    val remaining = Sinks.retentionDelete(spark, path, "ts",
      lit("2024-01-15 00:00:00").cast("timestamp"))
    assert(remaining === 1L)
    assert(spark.read.parquet(path).head().getLong(0) === 2L)
  }

  test("mergeUpsertPartitioned rewrites ONLY the partitions the source touches") {
    val path = tmpDir("merge-part")
    Sinks.truncateInsert(Seq(
      (1L, 10.0, "2024-06-01"), (2L, 20.0, "2024-06-02"), (3L, 30.0, "2024-06-03"))
      .toDF("id", "bal", "d"), path, partitionBy = Seq("d"))
    val untouched = new java.io.File(s"$path/d=2024-06-03")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    // Source touches TWO partitions (exercises the materialize-before-swap
    // path): update id=2 in 06-02, update id=1 + insert id=4 in 06-01.
    val touched = Sinks.mergeUpsertPartitioned(spark,
      Seq((2L, 99.0, "2024-06-02"), (1L, 11.0, "2024-06-01"), (4L, 40.0, "2024-06-01"))
        .toDF("id", "bal", "d"),
      path, Seq("id"), "d")
    assert(touched === Seq("d=2024-06-01", "d=2024-06-02"))

    val out = spark.read.parquet(path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(out === Array((1L, 11.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)))
    // The 06-03 partition's files were never rewritten.
    val after = new java.io.File(s"$path/d=2024-06-03")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(after === untouched)
  }

  test("truncateInsert replaces prior content (L2)") {
    val path = tmpDir("truncate")
    Sinks.truncateInsert(Seq((1L, "old")).toDF("id", "v"), path)
    Sinks.truncateInsert(Seq((2L, "new")).toDF("id", "v"), path)
    val out = spark.read.parquet(path).collect()
    assert(out.length === 1 && out.head.getString(1) === "new")
  }

  // ------------------------------------------------------------- sources

  /** Fake endpoint: 25 records served in pages (misa pagination shape). */
  class FakePages(total: Int) extends PaginatedSource.PageFetcher {
    override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
      val from = page * pageSize
      (from until math.min(from + pageSize, total)).map(i =>
        s"""{"id": $i, "modified_date": "2024-01-${10 + i % 20} 00:00:00"}""")
    }
  }

  test("fullScan paginates until short page; maxPages caps like LIMIT (S5/S6)") {
    val df = PaginatedSource.fullScan(spark, new FakePages(25), pageSize = 10, maxPages = 10)
    assert(df.count() === 25)
    val capped = PaginatedSource.fullScan(spark, new FakePages(25), pageSize = 10, maxPages = 2)
    assert(capped.count() === 20)
  }

  test("incrementalScan applies the fail-open lookback filter (S7)") {
    val df = PaginatedSource.incrementalScan(spark, new FakePages(25),
      pageSize = 10, maxPages = 10, tsCol = "modified_date",
      cutoff = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    // ids with modified 2024-01-(10+i%20) >= 20 → i%20 >= 10
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids === (0 until 25).filter(i => (i % 20) >= 10).map(_.toLong).toSet)
  }

  test("timeSlicedScan distributes slices across tasks (S1-S3 shape)") {
    val fetcher = new PaginatedSource.SliceFetcher {
      override def fetchSlice(from: Long, to: Long): Seq[String] =
        (from until to).map(t => s"""{"create_time": $t}""")
    }
    val df = PaginatedSource.timeSlicedScan(spark, fetcher, 1000L, 1040L, slices = 8)
    assert(df.count() === 40)
    assert(df.agg(min(col("create_time")), max(col("create_time")))
      .head().toSeq === Seq(1000L, 1039L))
  }

  test("timeSlicedScan requests each slice once (probe, inference and parse share one fetch)") {
    val calls = spark.sparkContext.collectionAccumulator[(Long, Long)]("slice requests")
    val fetcher = new PaginatedSource.SliceFetcher {
      override def fetchSlice(from: Long, to: Long): Seq[String] = {
        calls.add((from, to))
        (from until to).map(t => s"""{"create_time": $t}""")
      }
    }
    val df = PaginatedSource.timeSlicedScan(spark, fetcher, 3000L, 3012L, slices = 4)
    assert(df.count() === 12)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (3000L until 3012L))
    import scala.jdk.CollectionConverters._
    assert(calls.value.asScala.toSeq.sorted === PaginatedSource.sliceBounds(3000L, 3012L, 4))
  }

  // --------------------------------------------------------- JDBC sink path

  test("jdbc sink modes round-trip on embedded Derby (L1 append / L2 truncate-insert / L3 replace)") {
    // Embedded Derby from the Spark-provided jars — same JVM, no network;
    // keep its log out of the repo root.
    System.setProperty("derby.system.home",
      Files.createTempDirectory("graft-derby-home").toString)
    val url = s"jdbc:derby:${tmpDir("derby-db")};create=true"
    val table = "staging_orders"

    val b1 = Seq((1L, "a", 10.5), (2L, "b", 20.0)).toDF("id", "v", "amount")
    Sinks.jdbcAppend(b1, url, table, batchSize = 2) // first load creates the table
    def readBack() = Sinks.jdbcTable(spark, url, table)
      .orderBy("id", "v").collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("v")),
        r.getDouble(r.fieldIndex("amount"))))
    assert(readBack().toSeq === Seq((1L, "a", 10.5), (2L, "b", 20.0)))

    // L1: append accumulates (no dedup at this layer — that's L4's job).
    Sinks.jdbcAppend(b1, url, table)
    assert(readBack().length === 4)

    // L2: truncate-insert replaces content, keeping the table's DDL.
    val b2 = Seq((7L, "x", 1.0)).toDF("id", "v", "amount")
    Sinks.jdbcTruncateInsert(b2, url, table)
    assert(readBack().toSeq === Seq((7L, "x", 1.0)))

    // L3: replace rewrites wholesale — narrower schema wins after the swap.
    val b3 = Seq((9L, "z", 3.25), (10L, "w", 4.5)).toDF("id", "v", "amount")
    Sinks.jdbcReplace(b3, url, table)
    assert(readBack().toSeq === Seq((9L, "z", 3.25), (10L, "w", 4.5)))
    assert(Sinks.jdbcTable(spark, url, table).columns.toSeq === Seq("id", "v", "amount"))
  }

  test("jdbc MERGE upsert on Derby: update-else-insert, idempotent under re-application (L5 JDBC form)") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("graft-derby-home3").toString)
    val url = s"jdbc:derby:${tmpDir("derby-db3")};create=true"
    val table = "staging_upsert"
    def readBack() = Sinks.jdbcTable(spark, url, table).orderBy("id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2))).toSeq
    // First load against a missing table bootstraps it (append-path DDL).
    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "amount")
    Sinks.jdbcUpsert(b1, url, table, Seq("id"), batchSize = 1)
    assert(readBack() === Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    // Mixed batch: update key 2, insert key 3 (with a NULL non-key value).
    val b2 = Seq((2L, "B", 25.0), (3L, null.asInstanceOf[String], 30.0))
      .toDF("id", "v", "amount")
    Sinks.jdbcUpsert(b2, url, table, Seq("id"), batchSize = 1)
    val expected = Seq((1L, "a", 10.0), (2L, "B", 25.0), (3L, null, 30.0))
    assert(readBack() === expected)
    // THE idempotency contract: applying the same batch twice changes
    // nothing (same rows after 1x and 2x application).
    Sinks.jdbcUpsert(b2, url, table, Seq("id"), batchSize = 1)
    assert(readBack() === expected)
    // In-source key duplicates collapse to one row, never a double insert.
    val b3 = Seq((4L, "x", 1.0), (4L, "x", 1.0)).toDF("id", "v", "amount")
    Sinks.jdbcUpsert(b3, url, table, Seq("id"))
    assert(readBack().count(_._1 == 4L) === 1)
    assert(readBack().size === 4)
  }

  test("partitioned jdbc read splits the scan and loses no rows (Derby)") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("graft-derby-home2").toString)
    val url = s"jdbc:derby:${tmpDir("derby-db2")};create=true"
    val table = "wide_scan"
    // ids 0..99 plus rows OUTSIDE the declared bounds on both ends — the
    // stride split must sweep them into the first/last stripe, not drop them.
    val rows = ((-5L to 104L).map(i => (i, s"r$i"))).toDF("id", "v")
    Sinks.jdbcAppend(rows, url, table)
    val df = Sinks.jdbcTable(spark, url, table,
      partitionColumn = "id", lowerBound = 0L, upperBound = 100L,
      numPartitions = 4)
    assert(df.rdd.getNumPartitions === 4, "scan must split into range stripes")
    assert(df.count() === 110L, "out-of-bounds rows must survive the split")
    assert(df.agg(min(col("id")), max(col("id"))).head().toSeq === Seq(-5L, 104L))
  }

  // -------------------------------------------------- retry / token refresh

  import graft.sources.Resilience

  /** Fake clock: records requested sleeps instead of sleeping. */
  private class FakeClock {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sleep(ms: Long): Unit = slept += ms
  }

  test("retrying fetcher gives up after N attempts with linear backoff") {
    val clock = new FakeClock
    var calls = 0
    val failing = new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] = {
        calls += 1; throw new RuntimeException("connection reset")
      }
    }
    val wrapped = new Resilience.RetryingPageFetcher(failing,
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 100L, sleep = clock.sleep))
    val e = intercept[RuntimeException](wrapped.fetchPage(0, 10))
    assert(e.getMessage === "connection reset")
    assert(calls === 3)              // exactly N tries, then rethrow
    assert(clock.slept.toSeq === Seq(100L, 200L)) // linear: base·1, base·2
  }

  test("401-style auth failure refreshes the token then succeeds") {
    val clock = new FakeClock
    var refreshes = 0
    val tokens = new Resilience.TokenProvider {
      private var current = "stale"
      override def token(): String = current
      override def refresh(): Unit = { refreshes += 1; current = "fresh" }
    }
    val fetcher = new PaginatedSource.PageFetcher {
      override def fetchPage(page: Int, pageSize: Int): Seq[String] =
        if (tokens.token() == "stale")
          throw new Resilience.AuthExpiredException("401")
        else Seq("""{"id": 1}""")
    }
    val wrapped = new Resilience.RetryingPageFetcher(fetcher,
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 100L, sleep = clock.sleep),
      auth = Some(tokens))
    assert(wrapped.fetchPage(0, 10) === Seq("""{"id": 1}"""))
    assert(refreshes === 1)
    assert(clock.slept.toSeq === Seq(100L)) // constant delay after refresh
  }

  test("auth failure that persists after refresh still gives up after N") {
    val clock = new FakeClock
    var refreshes = 0
    val tokens = new Resilience.TokenProvider {
      override def token(): String = "never-works"
      override def refresh(): Unit = refreshes += 1
    }
    val fetcher = new PaginatedSource.SliceFetcher {
      override def fetchSlice(from: Long, to: Long): Seq[String] =
        throw new Resilience.AuthExpiredException("401")
    }
    val wrapped = new Resilience.RetryingSliceFetcher(fetcher,
      Resilience.RetryPolicy(attempts = 3, baseDelayMs = 50L, sleep = clock.sleep),
      auth = Some(tokens))
    intercept[Resilience.AuthExpiredException](wrapped.fetchSlice(0L, 10L))
    assert(refreshes === 3) // refresh attempted on every 401, incl. the last
    assert(clock.slept.toSeq === Seq(50L, 50L))
  }

  test("retrying slice fetcher works end-to-end through timeSlicedScan") {
    // Flaky-once-per-slice fetcher: first call for each slice fails, the
    // retry succeeds — the scan must still produce every row exactly once.
    val inner = new PaginatedSource.SliceFetcher {
      // Executor-side state: per-task (local[32] shares the JVM but the
      // map is keyed per slice, so each slice fails exactly once).
      @transient private lazy val seen =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      override def fetchSlice(from: Long, to: Long): Seq[String] = {
        if (seen.add(from)) throw new RuntimeException(s"flake at $from")
        (from until to).map(t => s"""{"create_time": $t}""")
      }
    }
    val wrapped = new Resilience.RetryingSliceFetcher(inner,
      Resilience.RetryPolicy(attempts = 2, baseDelayMs = 0L, sleep = _ => ()))
    val df = PaginatedSource.timeSlicedScan(spark, wrapped, 2000L, 2020L, slices = 4)
    assert(df.count() === 20)
  }

  test("writeTrainingShards: one dir per shard, rows stored in epoch order") {
    val path = tmpDir("shards")
    val layout = graft.operators.Sampling.epochShuffle(
      (1L to 300L).toDF("doc_id"), "doc_id", seed = 7, nShards = 4)
    Sinks.writeTrainingShards(layout, path, "shard", "pos")
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq === Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // Each shard's files, read in order, must yield pos already sorted —
    // the loader contract: stream the shard, no read-time sort.
    dirs.foreach { d =>
      val files = new java.io.File(s"$path/$d").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      val pos = files.flatMap(f =>
        spark.read.parquet(f).select("pos").coalesce(1).collect().map(_.getInt(0)))
      assert(pos.toSeq === pos.sorted.toSeq, s"$d out of order")
      assert(pos.head === 1, s"$d must start at position 1")
    }
    // Nothing lost: union of shards is the full corpus.
    assert(spark.read.parquet(path).select("doc_id").distinct().count() === 300L)
  }
}
