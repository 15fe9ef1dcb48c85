package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Cross-table transactional commit for multi-sink cycles.
  *
  * The reference wraps each staging MERGE in a SQL Server transaction
  * (run_historical_backfill.py:86-183), so a crashed cycle or backfill
  * batch never leaves SOME tables advanced and others stale, nor a table
  * half rewritten. Delta/Iceberg would provide it; neither is on the
  * classpath, so this is the minimal honest equivalent of their core
  * idea — an atomically published manifest pointer over immutable data.
  * It is the engine's one commit protocol: the ETL cycle and curation
  * append through it, and the backfill's MERGE replaces a table through
  * it ([[replaceTable]]):
  *
  *  - Data is only ever ADDED, as immutable delta directories under
  *    `root/<table>/.graft-delta-<uuid>` (dot-prefixed: invisible to any
  *    reader that lists the table path directly — uncommitted data can
  *    never leak into a scan).
  *  - A manifest (`root/_graft_manifest/manifest-v<N>.json`, JSON-lines
  *    `{"table":..,"delta":..}`) names every delta dir of every table at
  *    version N. Manifest files are immutable once visible.
  *  - COMMIT is one atomic filesystem rename of the fully-written
  *    manifest from a hidden temp name to `manifest-v<N+1>.json`.
  *    Readers resolve MAX(version) — so a crash anywhere before that
  *    rename leaves version N intact and every staged delta of the torn
  *    cycle unreferenced and invisible; no recovery step is ever needed
  *    on the read path.
  *
  * Scale: the manifest carries directory NAMES, not file lists — O(tables
  * × cycles) strings, trivially driver-sized for years of 10-minute
  * cycles. [[compactTable]] folds a table's delta list back to one
  * directory (itself a transactional commit), but only when a caller
  * runs it: no writer does yet, so delta lists grow with every cycle
  * until one does (ROADMAP item 1 wires it into the commit). It is the
  * engine's one compaction home: every appending writer lands its rows
  * here, so no plain Hive directory is left to compact.
  * Readers pass the delta list to one multi-path parquet scan, so a
  * table read stays a single distributed scan regardless of delta count.
  *
  * Concurrency contract: ONE writer at a time (the reference's cycles
  * are strictly serialized by the orchestrator). A racing second
  * committer loses the `rename` (atomic create-if-absent on HDFS-like
  * stores) and fails loudly rather than clobbering. [[vacuum]] deletes
  * unreferenced deltas and must only run while no cycle is staging.
  */
object ManifestCommit {

  final case class Manifest(version: Long, tables: Map[String, Seq[String]])

  private val ManifestDir = "_graft_manifest"
  private val ManifestName = raw"manifest-v(\d{12})\.json".r
  // One {"table","delta"} object per manifest line (see publish).
  private val ManifestLine = raw""""table":"([^"]*)","delta":"([^"]*)"""".r

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, version: Long): Path =
    new Path(s"$root/$ManifestDir/" + f"manifest-v$version%012d.json")

  /** Every committed version number, ascending (empty for a virgin root). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(s"$root/$ManifestDir")
    val hfs = fs(spark, root)
    if (!hfs.exists(dir)) return Nil
    hfs.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestName(v) => Some(v.toLong)
      case _ => None
    }).sorted
  }

  private def readManifest(hfs: FileSystem, root: String, v: Long): Manifest = {
    val in = hfs.open(manifestPath(root, v))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    // JSON-lines, builder-written (see publish): one {"table","delta"}
    // object per line. Parsed with the same minimal discipline it is
    // written with — no library dependency, no ambiguity (both fields
    // are UUID/identifier strings with no escapes).
    val entries = body.linesIterator.filter(_.nonEmpty).map { line =>
      ManifestLine.findFirstMatchIn(line) match {
        case Some(m) => (m.group(1), m.group(2))
        case None => throw new IllegalStateException(
          s"corrupt manifest line in v$v: $line")
      }
    }.toSeq
    Manifest(v, entries.groupBy(_._1).map { case (t, es) => t -> es.map(_._2) })
  }

  /** Latest committed manifest, or None for a virgin root. */
  def currentManifest(spark: SparkSession, root: String): Option[Manifest] =
    versions(spark, root).lastOption
      .map(readManifest(fs(spark, root), root, _))

  /** The manifest AT a specific committed version — time travel. Every
    * manifest file is immutable once visible, so any version that
    * [[vacuum]] has not yet reclaimed reads exactly as it committed
    * (vacuum keeps only the current one; retention is the operator's
    * policy knob, as in any snapshot store).
    */
  def manifestAt(spark: SparkSession, root: String,
      version: Long): Option[Manifest] = {
    val hfs = fs(spark, root)
    if (hfs.exists(manifestPath(root, version)))
      Some(readManifest(hfs, root, version))
    else None
  }

  /** One multi-path parquet scan through `reader` over `table`'s delta
    * list in `m`.
    */
  private def scan(reader: DataFrameReader, root: String, m: Manifest,
      table: String): Option[DataFrame] =
    m.tables.get(table).filter(_.nonEmpty).map { deltas =>
      reader.parquet(deltas.map(d => s"$root/$d"): _*)
    }

  /** The view of `table` in the already-read manifest `m`, read with the
    * `schema` the caller needs — any subset of the table's columns,
    * typed as the caller will use them. A caller that reads several
    * tables of one version reads the manifest once, and the read starts
    * no schema-inference job. A column the files lack reads as NULL; a
    * column stored with another type fails when the scan runs. None when
    * the table has no committed data. Appending write paths read
    * committed tables only through here; the one whole-table replace
    * ([[replaceTable]]) reads the stored schema instead, because the
    * table it writes must carry every stored column.
    */
  def tableFrom(spark: SparkSession, root: String, m: Manifest,
      table: String, schema: StructType): Option[DataFrame] =
    scan(spark.read.schema(schema), root, m, table)

  /** Every stored row of `table` in `m`, read with the union of its
    * deltas' stored schemas: a column only some deltas carry (a later
    * cycle window's JSON inferred it) is read, NULL in the rest. The
    * footers are merged in one job per call; stored types that conflict
    * fail the read. None when the table has no committed data.
    */
  private def storedTable(spark: SparkSession, root: String, m: Manifest,
      table: String): Option[DataFrame] =
    scan(spark.read.option("mergeSchema", "true"), root, m, table)

  /** The committed view of `table`: one multi-path parquet scan over its
    * delta directories with every stored column. None when the table has
    * no committed data.
    */
  def readTable(spark: SparkSession, root: String,
      table: String): Option[DataFrame] =
    currentManifest(spark, root).flatMap(storedTable(spark, root, _, table))

  /** [[readTable]] as of a historical version (time travel): the exact
    * table state readers saw when `version` was current.
    */
  def readTableAt(spark: SparkSession, root: String, table: String,
      version: Long): Option[DataFrame] =
    manifestAt(spark, root, version).flatMap(storedTable(spark, root, _, table))

  /** Write `df` as a new IMMUTABLE delta directory for `table`; returns
    * the root-relative delta path to hand to [[commit]]. Invisible to
    * every reader until a manifest referencing it is committed.
    */
  def stageDelta(spark: SparkSession, df: DataFrame, root: String,
      table: String): String = {
    val rel = s"$table/.graft-delta-${java.util.UUID.randomUUID()}"
    df.write.mode("error").parquet(s"$root/$rel")
    rel
  }

  /** Delete a delta this writer staged and will not commit (one that
    * holds no rows), or one its own publish just replaced: the current
    * manifest does not reference it, and nothing is left for [[vacuum]].
    */
  def discardDelta(spark: SparkSession, root: String, rel: String): Unit =
    fs(spark, root).delete(new Path(s"$root/$rel"), true)

  /** Write version `version`'s manifest to a hidden temp file and
    * atomically rename it into place — THE commit point. rename is
    * atomic create-if-absent on HDFS-like stores: a concurrent committer
    * racing to the same version loses the rename and fails here — it
    * must re-read and retry, never overwrite.
    */
  private[graft] def publish(hfs: FileSystem, root: String, version: Long,
      tables: Map[String, Seq[String]]): Long = {
    val dir = new Path(s"$root/$ManifestDir")
    hfs.mkdirs(dir)
    val tmp = new Path(dir, s".graft-tmp-${java.util.UUID.randomUUID()}")
    val out = hfs.create(tmp, false)
    try {
      val body = (for ((t, ds) <- tables.toSeq.sortBy(_._1); d <- ds)
        yield s"""{"table":"$t","delta":"$d"}""").mkString("\n")
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    val target = manifestPath(root, version)
    // Guard BEFORE publishing: fast, loud failure for the realistic
    // serialized racer (a torn orchestrator double-committing) on any
    // store.
    if (hfs.exists(target)) {
      hfs.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest version $version already committed by another writer " +
          "— losing commit aborted, nothing was published; re-read the " +
          "current manifest and retry")
    }
    if (hfs.getScheme == "file") {
      // POSIX rename(2) silently OVERWRITES an existing destination (and
      // Files.move+ATOMIC_MOVE maps to rename), so on the local store two
      // TRULY concurrent writers could both pass the exists() check and
      // the later rename would clobber the winner. link(2) is the atomic
      // create-if-absent primitive POSIX does provide: hard-linking the
      // temp file onto the target fails with EEXIST if any other writer
      // got there first — the window is closed, not just narrowed.
      val q = (p: Path) => java.nio.file.Paths.get(
        hfs.makeQualified(p).toUri.getPath)
      try java.nio.file.Files.createLink(q(target), q(tmp))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          hfs.delete(tmp, false)
          throw new IllegalStateException(
            s"manifest version $version lost the publish race to a " +
              "concurrent writer — nothing was published; re-read the " +
              "current manifest and retry")
      }
      hfs.delete(tmp, false)
    } else {
      // HDFS-like stores: rename is atomic create-if-absent already.
      require(hfs.rename(tmp, target),
        s"manifest commit lost the rename to version $version " +
          "(concurrent committer?) — nothing was published")
    }
    version
  }

  /** Atomically publish version current+1 = current manifest plus the
    * staged deltas (table → newly staged delta paths). ALL tables in
    * `staged` become visible together or not at all. Returns the new
    * version.
    */
  def commit(spark: SparkSession, root: String,
      staged: Map[String, Seq[String]]): Long =
    commitOver(spark, root, currentManifest(spark, root), staged)

  /** [[commit]] on top of `base`, a manifest the caller read earlier (None
    * for a virgin root), publishing version base+1: the delta list of
    * every table in `replaced` is swapped for the given one, then the
    * staged deltas are appended. If another writer has committed since
    * `base` was read, that version exists and the publish fails loudly —
    * the caller's reads of `base` never go stale silently. The one place
    * a new manifest's table map is built.
    */
  def commitOver(spark: SparkSession, root: String, base: Option[Manifest],
      staged: Map[String, Seq[String]],
      replaced: Map[String, Seq[String]] = Map.empty): Long = {
    val prev = base.map(_.tables).getOrElse(Map.empty) ++ replaced
    val merged = (prev.toSeq ++ staged.toSeq)
      .groupBy(_._1).map { case (t, es) => t -> es.flatMap(_._2) }
    publish(fs(spark, root), root, base.map(_.version).getOrElse(0L) + 1L, merged)
  }

  /** Replace `table`'s delta list with ONE compacted directory — itself
    * a transactional commit (readers see either the old list or the new
    * single delta, never both). Old dirs become unreferenced; [[vacuum]]
    * reclaims them. None when the table has no committed data.
    */
  def compactTable(spark: SparkSession, root: String, table: String,
      numFiles: Int = 1): Option[Long] =
    replaceTable(spark, root, table)(_.map(_.repartition(numFiles))).map(_._1)

  /** The one whole-table replace: transactionally replace `table`'s
    * contents with `rewrite(current rows)` as ONE delta, publishing the
    * version after the manifest it read. The current rows are read with
    * the union of the deltas' stored schemas — every stored column, also
    * one only some deltas carry (None when the table has no committed
    * data); a rewrite that returns None publishes nothing. Returns the
    * new version and the deltas it replaced: readers see the old rows or
    * the new ones, never both, and the replaced deltas stay on disk for
    * earlier versions until the caller discards them or [[vacuum]] runs.
    * Used for the backfill's MERGE (`Pipelines.runBackfill`) and for
    * row-level folds: for tables whose rows form a semilattice summary
    * (e.g. sketch register rows merged by element-wise max), the
    * append-only history folds to its summary without changing any read
    * — the fold must be pure, associative and idempotent over the rows,
    * so replacing the list is replay-safe and re-folding a folded table
    * is a no-op.
    */
  def replaceTable(spark: SparkSession, root: String, table: String)(
      rewrite: Option[DataFrame] => Option[DataFrame]): Option[(Long, Seq[String])] = {
    val base = currentManifest(spark, root)
    val current = base.flatMap(storedTable(spark, root, _, table))
    rewrite(current).map { df =>
      val rel = stageDelta(spark, df, root, table)
      (commitOver(spark, root, base, Map.empty, Map(table -> Seq(rel))),
        base.flatMap(_.tables.get(table)).getOrElse(Nil))
    }
  }

  /** Delete every delta directory the CURRENT manifest does not
    * reference (torn cycles, compacted-away generations) and every
    * superseded manifest file. Only safe while no cycle is staging —
    * an in-flight writer's staged deltas are indistinguishable from a
    * torn cycle's. Returns the number of paths deleted.
    */
  def vacuum(spark: SparkSession, root: String): Int = {
    val hfs = fs(spark, root)
    val rootPath = new Path(root)
    if (!hfs.exists(rootPath)) return 0
    currentManifest(spark, root) match {
      case None => 0
      case Some(m) =>
        val live = m.tables.valuesIterator.flatten.toSet
        var deleted = 0
        hfs.listStatus(rootPath)
          .filter(s => s.isDirectory && s.getPath.getName != ManifestDir)
          .foreach { t =>
            hfs.listStatus(t.getPath)
              .filter(_.getPath.getName.startsWith(".graft-delta-"))
              .foreach { d =>
                val rel = s"${t.getPath.getName}/${d.getPath.getName}"
                if (!live.contains(rel)) {
                  hfs.delete(d.getPath, true); deleted += 1
                }
              }
          }
        val mdir = new Path(s"$root/$ManifestDir")
        hfs.listStatus(mdir).foreach { s =>
          s.getPath.getName match {
            case ManifestName(v) if v.toLong < m.version =>
              hfs.delete(s.getPath, false); deleted += 1
            case n if n.startsWith(".graft-tmp-") =>
              hfs.delete(s.getPath, false); deleted += 1
            case _ => ()
          }
        }
        deleted
    }
  }
}
