package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.PaginatedSource

/** [[PaginatedSource.jsonFrame]] infers a window's schema on the driver:
  * it must give the schema and rows `spark.read.json` gives, and start
  * no Spark job.
  */
class JsonFrameSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def oneLine(s: String): String = s.stripMargin.replace("\n", "")

  private val fixtures: Seq[(String, Seq[String])] = Seq(
    "MISA customers" -> (1 to 3).map(i => oneLine(
      s"""{"id":$i,"account_name":"c$i","annual_revenue":"${i * 100}",
         |"modified_date":"2024-06-0$i 00:00:00","inactive":false}""")),
    "MISA sale orders with nested mappings" -> Seq(
      oneLine("""{"id":98765,"sale_order_no":"SO-1","sale_order_amount":"12500000",
        |"sale_order_date":"2025-08-01T03:15:00Z","is_use_currency":false,
        |"sale_order_product_mappings":[
        |{"id":111,"product_code":"SP001","price":"250000","amount":"10","mass":"0.5"},
        |{"id":112,"product_code":"SP002","price":"not-a-number","amount":"2"}]}"""),
      oneLine("""{"id":98766,"sale_order_no":"SO-2","sale_order_amount":"99",
        |"sale_order_date":"bad date","sale_order_product_mappings":[]}"""),
      oneLine("""{"id":3,"sale_order_no":"SO-3","modified_date":"2024-06-05 00:00:00",
        |"sale_order_product_mappings":[{"id":31,"price":10.5,"is_promotion":true}]}""")),
    "MISA contacts and stocks" -> Seq(
      """{"id":1,"contact_name":"k1","account_id":7,"total_score":"12.5","email_opt_out":true}""",
      """{"stock_code":"ST-1","stock_name":"W1","created_date":"2024-13-45 99:00:00"}"""),
    "a field null in every record" -> Seq("""{"id":1,"x":null}""", """{"id":2,"x":null}"""),
    "an empty array" -> Seq("""{"id":1,"a":[]}""", """{"id":2,"a":[],"b":{"c":[]}}"""),
    "a long in one record and a double in another" -> Seq("""{"v":1}""", """{"v":2.5}"""),
    "an integer beyond the long range" -> Seq(
      """{"big":18446744073709551615}""", """{"big":1}"""),
    "keys that differ only by case" -> Seq("""{"id":1,"Id":"x"}""", """{"id":2}"""),
    "a malformed record" -> Seq("""{"id":1}""", """{"id":2,"name":""", """[1, 2]"""),
    "top-level arrays of records" -> Seq("""[{"id":1},{"id":2,"y":"b"}]""", """{"id":3}"""))

  fixtures.foreach { case (name, records) =>
    test(s"driver-inferred schema and rows equal spark.read.json's: $name") {
      val expected = spark.read.json(spark.createDataset(records))
      val got = PaginatedSource.jsonFrame(spark, records)
      assert(got.schema === expected.schema)
      assert(got.collect().toSeq.map(_.toString).sorted ===
        expected.collect().toSeq.map(_.toString).sorted)
    }
  }

  test("the fixtures reach the types they are named for") {
    def schemaOf(name: String) =
      PaginatedSource.jsonFrame(spark, fixtures.toMap.apply(name)).schema
    assert(schemaOf("a field null in every record")("x").dataType === StringType)
    assert(schemaOf("an empty array")("a").dataType === ArrayType(StringType))
    assert(schemaOf("a long in one record and a double in another")("v").dataType ===
      DoubleType)
    assert(schemaOf("an integer beyond the long range")("big").dataType === DecimalType(20, 0))
    assert(schemaOf("keys that differ only by case").fieldNames.toSeq === Seq("Id", "id"))
    assert(schemaOf("a malformed record").fieldNames.contains("_corrupt_record"))
    assert(schemaOf("MISA sale orders with nested mappings")("sale_order_product_mappings")
      .dataType.isInstanceOf[ArrayType])
  }

  test("jsonFrame starts no Spark job") {
    val records = fixtures.flatMap(_._2)
    val jobs = SparkJobs.groupsDuring(spark) {
      fixtures.foreach { case (_, rs) => PaginatedSource.jsonFrame(spark, rs) }
      PaginatedSource.jsonFrame(spark, records)
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs")
  }
}
