package org.apache.spark.sql.catalyst.graftbridge

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.json.{JSONOptions, JsonInferSchema}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** `spark.read.json`'s schema inference, run on the driver over records
  * already in hand: per-record `JsonInferSchema.inferField`, folded with
  * `compatibleRootType`, then `canonicalizeType` — the steps of
  * `JsonInferSchema.infer` without the Spark job that runs them over an
  * RDD. `canonicalizeType` is `private[catalyst]`, hence this package.
  */
object JsonBridge {

  /** The schema `spark.read.json` infers for `records` with default
    * options (PERMISSIVE: a record the parser rejects contributes the
    * corrupt-record column, as in Spark's own inference).
    */
  def inferSchema(spark: SparkSession, records: Iterable[String]): StructType = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptions(Map.empty[String, String],
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val inference = new JsonInferSchema(options)
      val merge = JsonInferSchema.compatibleRootType(
        options.columnNameOfCorruptRecord, options.parseMode)
      val corrupt = StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
      val factory = options.buildJsonFactory()
      val root = records.iterator.map { r =>
        try {
          val parser = factory.createParser(r)
          try { parser.nextToken(); inference.inferField(parser) }
          finally parser.close()
        } catch {
          case _: JsonProcessingException | _: MalformedInputException |
              _: CharConversionException | _: RuntimeException => corrupt
        }
      }.foldLeft(StructType(Nil): DataType)(merge)
      // canonicalizeType erases empty structs, the empty root included.
      inference.canonicalizeType(root, options)
        .collect { case s: StructType => s }.getOrElse(StructType(Nil))
    }
  }
}
