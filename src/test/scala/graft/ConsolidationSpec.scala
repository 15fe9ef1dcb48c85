package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the runtime consolidated: one session factory
  * ([[GraftSession.create]]), one SQL-function registrar
  * ([[GraftExtensions]]), one driver-guard helper
  * ([[graft.core.DriverGuard.collectUpTo]]), one thread pool helper
  * ([[graft.core.Parallel.inParallel]]), one cache-lifetime rule
  * ([[graft.core.CacheScope]]), one committed-table read on the appending
  * write paths ([[graft.sources.ManifestCommit.tableFrom]]), one commit
  * protocol (the only filesystem rename is the manifest publish in
  * [[graft.sources.ManifestCommit]]) and one package of Spark-internal
  * bridges; no JSON read infers its schema in a Spark job (every
  * extraction is a driver-side page loop, whose records
  * `PaginatedSource.jsonFrame` infers on the driver). Each concept used
  * to live in several hand-copied places;
  * this scan of `src/main/scala` fails as soon as a copy creeps back
  * outside its one home. It also fails on a top-level type that no other
  * code names, the shape spec-only surface takes (`tools/reach.py` is the
  * bytecode-level report behind it).
  */
class ConsolidationSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private lazy val sources: Seq[(Path, String)] = scalaFiles("src/main/scala")

  private def filesMatching(pattern: String): Set[String] = {
    val re = pattern.r
    sources.collect { case (p, text) if re.findFirstIn(text).isDefined =>
      p.getFileName.toString }.toSet
  }

  test("sessions are built only by GraftSession") {
    assert(filesMatching("""SparkSession\.builder""") === Set("GraftSession.scala"))
  }

  test("SQL functions are registered only by GraftExtensions") {
    assert(filesMatching("""functionRegistry""") === Set("GraftExtensions.scala"))
  }

  test("limit(cap + 1).collect() guards live only in DriverGuard") {
    assert(filesMatching("""\.limit\([^()]*\+\s*1\s*\)\s*\.collect\(\)""") ===
      Set("DriverGuard.scala"))
  }

  test("fixed thread pools are built only by Parallel") {
    assert(filesMatching("""Executors\.newFixedThreadPool""") === Set("Parallel.scala"))
  }

  test("frames are cached only through CacheScope") {
    assert(filesMatching("""\.cache\(\)|\.persist\(""") === Set("CacheScope.scala"))
  }

  test("JSON schemas are inferred by a Spark job only where the records are not on the driver") {
    // A read that infers: `.read.json(`, possibly after options, but no `.schema(`.
    val inferring = """\.read(\s*\.(?!schema\b)\w+\([^()]*\))*\s*\.json\(""".r
    val enclosingDef = """\bdef\s+(\w+)""".r
    val sites = sources.flatMap { case (p, text) =>
      inferring.findAllMatchIn(text).map { m =>
        p.getFileName.toString -> enclosingDef.findAllMatchIn(text.take(m.start)).toSeq.last.group(1)
      }
    }.toSet
    // Every extraction is a page loop whose records are on the driver.
    assert(sites === Set.empty)
  }

  test("Spark-internal bridges live in one package") {
    val bridges = sources.flatMap { case (_, text) =>
      """(?m)^package\s+(org\.apache\.spark[\w.]*)""".r.findFirstMatchIn(text).map(_.group(1))
    }.toSet
    assert(bridges === Set("org.apache.spark.sql.catalyst.graftbridge"))
  }

  test("committed tables are read in src/main only through tableFrom with a schema") {
    // Appends read committed tables through tableFrom. readTable and
    // readTableAt merge the deltas' stored schemas, one Spark job per
    // call; they serve tests and ad-hoc readers. The one whole-table
    // replace (ManifestCommit.replaceTable) reads through the same
    // private merged read inside ManifestCommit, because it must carry
    // every stored column.
    assert(filesMatching("""(?<!def )\breadTable(At)?\s*\(""") === Set.empty)
  }

  test("files are renamed only by ManifestCommit's publish") {
    // A rename is a commit point; the manifest publish is the only one.
    assert(filesMatching("""\.rename\(""") === Set("ManifestCommit.scala"))
  }

  test("every top-level type in src/main is named by other program code") {
    // Entry points no other program file names, each kept for its
    // ROADMAP role.
    val allowed = Map(
      "Bench" -> "main: the 196-query bench (aim 1)",
      "Verify" -> "main: the oracle's correctness dump (aim 3)",
      "Explain" -> "main: per-query plans (aim 4)",
      "PlanAudit" -> "main: shuffle/join and executed-plan audits (aim 1)",
      "HttpFetchers" -> "the HTTP transport a deployment hands to Pipelines (item 9)",
      "ProductionMonitor" -> "the reference's alert thresholds, wired by item 8")
    def code(text: String) =
      text.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")
    val program = (sources ++ scalaFiles("perfbench/src")).map { case (p, t) => p -> code(t) }
    val topLevel = """(?m)^(?:(?:final|sealed|abstract|case|private\[\w+\])\s+)*(?:object|class|trait)\s+(\w+)""".r
    val unnamed = program.filter(_._1.startsWith("src/main")).flatMap { case (p, text) =>
      topLevel.findAllMatchIn(text).map(_.group(1)).filterNot { name =>
        val mention = s"\\b$name\\b".r
        program.exists { case (q, other) => q != p && mention.findFirstIn(other).isDefined }
      }
    }.toSet
    assert(unnamed -- allowed.keySet === Set.empty[String],
      "no product path names these; wire them or delete them")
  }
}
