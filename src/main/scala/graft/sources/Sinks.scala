package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** The bucketed staging table of q62. Every other staging write — the
  * ETL cycle's appends, curation's commits and the §3.3 backfill's
  * MERGE (SURVEY §2.6 L2/L3/L5) — goes through [[ManifestCommit]].
  */
object Sinks {

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
    // Write-then-swap: the NEW data lands fully in a temp table while the
    // old table stays intact and readable (a self-referential rebuild —
    // bucketedTable(table ∪ batch, table, ...) — reads the old files
    // untouched). Only after a successful write does the old table drop;
    // a crash between drop and rename leaves the data recoverable under
    // the __tmp name.
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
