package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Staging written with `df.write.partitionBy(etl_load_date)` must let a
  * date predicate prune partitions — the scan reads only the selected
  * date's files.
  */
class PartitionPruningSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("date predicate on partitioned staging prunes to one partition") {
    val path = Files.createTempDirectory("graft-prune").resolve("t").toString
    val rows = (1 to 300).map(i =>
      (i.toLong, s"v$i", f"2024-06-${i % 3 + 1}%02d"))
      .toDF("id", "v", "etl_load_date")
    rows.write.partitionBy("etl_load_date").parquet(path)

    val q = spark.read.parquet(path).filter(col("etl_load_date") === "2024-06-02")
    assert(q.count() === 100L)

    val scan = q.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    // Partition filter present; only 1 of 3 date partitions is read.
    assert(scan.partitionFilters.nonEmpty, "no partition filters")
    assert(scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum < 300)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).size
    assert(selected === 1, s"expected 1 partition dir selected, got $selected")
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan through the join") {
    // The 100 TB mart pattern: fact partitioned by date, dim filtered on a
    // non-partition attribute — DPP must derive a runtime partition filter
    // for the fact side from the broadcasted dim, reading only matching
    // date partitions instead of the whole fact table.
    val path = Files.createTempDirectory("graft-dpp").resolve("fact").toString
    val fact = (1 to 300).map(i =>
      (i.toLong, i * 2.0, f"2024-06-${i % 3 + 1}%02d"))
      .toDF("id", "amount", "sale_date")
    fact.write.partitionBy("sale_date").parquet(path)
    val dimPath = Files.createTempDirectory("graft-dpp").resolve("dim").toString
    Seq(("2024-06-02", "promo"), ("2024-06-03", "regular"))
      .toDF("sale_date", "campaign")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)

    val q = spark.read.parquet(path)
      .join(broadcast(dim.filter(col("campaign") === "promo")), Seq("sale_date"))
    assert(q.count() === 100L)

    // The join query is AQE-wrapped; descend into the adaptive plan.
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(q.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("fact")))
      .getOrElse(fail("fact scan not found in plan"))
    val hasDynamic = scan.partitionFilters.exists(
      _.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]).isDefined)
    assert(hasDynamic,
      s"no dynamic pruning filter on the fact scan: ${scan.partitionFilters}")
  }

  test("nested schema pruning: projecting one struct field narrows ReadSchema") {
    // The T1-T4 flatten surface reads nested order documents; selecting
    // one nested field must not deserialize the sibling fields (column
    // pruning INSIDE the struct, not just at the top level).
    val path = Files.createTempDirectory("graft-nested").resolve("t").toString
    val rows = (1 to 50).map(i => (i.toLong, (s"name$i", s"addr$i", i * 1.0)))
      .toDF("id", "payload")
      .select(col("id"), struct(
        col("payload._1").as("name"), col("payload._2").as("address"),
        col("payload._3").as("score")).as("payload"))
    rows.write.mode("overwrite").parquet(path)

    val q = spark.read.parquet(path).select(col("payload.name"))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    val read = scan.requiredSchema.catalogString
    assert(read.contains("name") && !read.contains("address") && !read.contains("score"),
      s"nested fields not pruned from ReadSchema: $read")
  }
}
