package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Staging sinks over parquet: the engine's substrate for the reference's
  * SQL Server staging tables (SURVEY §2.6 L2/L3 and L5). The ETL cycle
  * appends through [[ManifestCommit]]; these are the whole-table writers
  * of the §3.3 backfill (`Pipelines.runBackfill`) and the bucketed table
  * of q62.
  *
  * Scale note: [[mergeUpsert]] reads and rewrites the CURRENT target, so
  * its cost is the table's size; the pure-transform half lives in
  * operators.Relational and is partition-agnostic.
  */
object Sinks {

  /** L2/L3 truncate-insert / replace (tiktok_shop_staging_loader.py:93-101):
    * on parquet both collapse to overwrite.
    */
  def truncateInsert(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Crash recovery for the backup-ordered swap: a crash between the two
    * renames leaves the table at `path.old` and nothing at `path` — every
    * entry point probes through here so the backup is restored before any
    * decision (like truncateInsert-on-missing) can destroy it.
    */
  private def recoverSwap(spark: SparkSession, path: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hOld = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath) && fs.exists(hOld)) {
      require(fs.rename(hOld, hPath), s"swap recovery: rename $hOld -> $path failed")
    }
  }

  private[graft] def targetExists(spark: SparkSession, path: String): Boolean = {
    recoverSwap(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** L5 MERGE upsert (run_historical_backfill.py:86-183): set-based merge
    * then atomic-swap rewrite (write to `path.tmp`, swap directories) —
    * the plain-parquet realization of MERGE INTO; Delta would replace the
    * swap with a transactional commit.
    */
  def mergeUpsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String]): Unit = {
    if (!targetExists(spark, path)) { truncateInsert(source, path); return }
    val target = requireSameColumns(spark.read.parquet(path), source, path)
    val merged = Relational.mergeUpsert(
      target.select(source.columns.map(col).toIndexedSeq: _*), source, keys)
    val tmp = path + ".tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapInto(spark, tmp, path)
  }

  /** MERGE schema contract: target and source must carry the SAME column
    * set. Projecting the target to `source.columns` would otherwise
    * silently drop target-only columns from the rewritten table — fail
    * loudly on drift instead.
    */
  private def requireSameColumns(target: DataFrame, source: DataFrame,
      path: String): DataFrame = {
    val t = target.columns.toSet
    val s = source.columns.toSet
    require(t == s,
      s"mergeUpsert($path): target/source schema drift — " +
        s"target-only=${(t -- s).toSeq.sorted.mkString(",")} " +
        s"source-only=${(s -- t).toSeq.sorted.mkString(",")}")
    target
  }

  /** Backup-ordered directory swap: current → `.old`, `.tmp` → current,
    * then drop `.old`. Every rename result is CHECKED, and at no point is
    * the data unrecoverable: a crash between the renames leaves the full
    * previous table at `.old` (and the new one at `.tmp`) — unlike
    * delete-then-rename, which has a window where the only copy is gone.
    * Delta/Iceberg would replace this with a transactional commit; neither
    * is on this classpath.
    */
  private def swapInto(spark: SparkSession, tmp: String, path: String): Unit = {
    recoverSwap(spark, path) // never clobber a backup that is the only copy
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hTmp = new org.apache.hadoop.fs.Path(tmp)
    val hOld = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hOld, true)
    if (fs.exists(hPath)) {
      require(fs.rename(hPath, hOld), s"swap: rename $path -> $hOld failed")
    }
    require(fs.rename(hTmp, hPath), s"swap: rename $tmp -> $path failed")
    fs.delete(hOld, true)
  }

  /** Bucketed staging table: pre-shuffles once at write time on the join/
    * merge key so every subsequent key join or MERGE against this table is
    * CO-LOCATED — no Exchange on the bucketed side. This is the 100 TB
    * answer to "the L5 merge shuffles the whole target every cycle": the
    * target is bucketed on its PK, only the incoming batch shuffles.
    * (bucketBy requires the table catalog, hence saveAsTable.)
    */
  def bucketedTable(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit = {
    // Default-database simple names only: the orphan-location cleanup
    // below assumes the <warehouse>/<table> managed layout.
    require(!table.contains("."),
      s"bucketedTable takes a simple (default-database) table name, got '$table'")
    val spark = df.sparkSession
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dropWithLocation(name: String): Unit = {
      // A managed-table location can survive from a PREVIOUS session
      // whose in-memory catalog is gone (the catalog entry dies with the
      // session, the warehouse directory does not) — creating the "new"
      // table would then fail with LOCATION_ALREADY_EXISTS.
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val loc = new org.apache.hadoop.fs.Path(warehouse, name.toLowerCase)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // Write-then-swap, mirroring swapInto's discipline: the NEW data
    // lands fully in a temp table while the old table stays intact and
    // readable (a self-referential rebuild — bucketedTable(table ∪ batch,
    // table, ...) — reads the old files untouched). Only after a
    // successful write does the old table drop; a crash between drop and
    // rename leaves the data recoverable under the __tmp name.
    val tmp = table + "__tmp"
    dropWithLocation(tmp)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(tmp)
    dropWithLocation(table)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }
}
