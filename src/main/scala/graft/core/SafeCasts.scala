package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Null-on-failure coercion utilities — the engine-wide casting contract.
  *
  * The reference's transformers never raise on bad input values: `_safe_float`
  * / `_safe_int` return None on garbage (tiktok_shop_transformer.py:179-195)
  * and pandas `to_numeric(errors='coerce')` / `to_datetime(errors='coerce')`
  * null out unparseable cells (misa_crm_transformer.py:82-95,191-224).
  * Spark's `try_cast` / `try_to_timestamp` express exactly this contract and
  * stay inside whole-stage codegen, unlike a UDF.
  */
object SafeCasts {

  /** `_safe_float` ≙ try_cast to double: null on None/''/'garbage'. */
  def safeDouble(c: Column): Column = c.try_cast(DoubleType)

  /** `_safe_int` ≙ try_cast to long. Note: Spark rejects '12.5' → null while
    * the reference's `int(float(x))` would truncate; we follow SQL semantics
    * (documented divergence, SURVEY §7.4.1).
    */
  def safeLong(c: Column): Column = c.try_cast(LongType)

  /** Exact-money cast per the staging DDLs' DECIMAL(18,4) contract
    * (create_tiktok_shop_orders_table.sql:43-51).
    */
  def safeMoney(c: Column): Column = c.try_cast(DecimalType(18, 4))

  /** `pd.to_datetime(errors='coerce')` ≙ try_to_timestamp; ISO-8601 `Z`
    * suffixes parse natively (the reference needed a manual `Z→+00:00` fixup,
    * misa_crm_extractor.py:274).
    */
  def safeTimestamp(c: Column): Column = try_to_timestamp(c)

  /** SQL-semantics boolean coercion (BIT columns in the DDL). Diverges from
    * pandas `astype(bool)` truthiness (non-empty string → true) by design —
    * SURVEY §7.4.1 picks SQL semantics.
    */
  def safeBoolean(c: Column): Column = c.try_cast(BooleanType)

  /** A column→type cast specification, the engine for the reference's
    * per-entity type-normalization maps (misa_crm_transformer.py:55-110,
    * 239-347: N numeric + M date + K bool columns per entity).
    */
  final case class CastSpec(
      numeric: Seq[String] = Nil,
      timestamps: Seq[String] = Nil,
      booleans: Seq[String] = Nil)

  /** Applies a CastSpec, casting ONLY the columns present — the reference's
    * `if col in df.columns` allowlist pattern (misa_crm_transformer.py:82-104).
    * One `select` (not N `withColumn`s) keeps the projection single-pass and
    * codegen-friendly.
    */
  def castColumns(df: DataFrame, spec: CastSpec): DataFrame = {
    val have = df.columns.toSet
    def pick[A](cols: Seq[String]): Seq[String] = cols.filter(have.contains)
    val casts: Map[String, Column => Column] =
      pick(spec.numeric).map(_ -> (safeDouble _)).toMap ++
        pick(spec.timestamps).map(_ -> (safeTimestamp _)).toMap ++
        pick(spec.booleans).map(_ -> (safeBoolean _)).toMap
    val projected = df.columns.map { c =>
      casts.get(c).map(f => f(col(c)).as(c)).getOrElse(col(c))
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** NVARCHAR(n) length clamp before load — tiktok_shop_staging_loader.py:
    * 276-288 truncates 7 key string columns to their DDL max lengths.
    */
  def clampStrings(df: DataFrame, maxLens: Map[String, Int]): DataFrame = {
    val have = df.columns.toSet
    val projected = df.columns.map { c =>
      maxLens.get(c).filter(_ => have.contains(c))
        .map(n => substring(col(c), 1, n).as(c)).getOrElse(col(c))
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** Column-intersection projection: keep only the DataFrame columns that
    * exist in the target schema, in target order — the reference queries
    * INFORMATION_SCHEMA and intersects before every load
    * (misa_crm_loader.py:159-175; run_historical_backfill.py:94-108).
    */
  def intersectColumns(df: DataFrame, target: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    df.select(target.filter(have.contains).map(col).toIndexedSeq: _*)
  }
}
