package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Nested-document flattening — the reference's core transform.
  *
  * T1 (tiktok_shop_transformer.py:22-73): one output row per
  * (order, line_item); orders with ZERO line items still emit one row with
  * all-null item fields (the null template at :152-167). `explode_outer`
  * reproduces this exactly: a null/empty array yields one row of nulls.
  *
  * T11 (misa_crm_transformer.py:112-237): the MISA prefix-flatten — every
  * order-level key becomes `order_<key>`, every item key `item_<key>`, plus
  * derived `has_multiple_items` / `total_items_in_order`.
  *
  * Scale note: explode is a NARROW transformation — no shuffle. A 100 TB
  * nested scan flattens in a single stage fused with the downstream
  * projection by whole-stage codegen.
  */
object Flatten {

  /** Generic outer-flatten: keep `keepCols`, explode `arrayCol` into `itemAlias`.
    * Zero/null arrays produce one all-null item row (T1 semantics).
    */
  def flattenOuter(df: DataFrame, arrayCol: String, itemAlias: String, keepCols: Seq[String]): DataFrame =
    df.select(keepCols.map(col) :+ explode_outer(col(arrayCol)).as(itemAlias): _*)

  /** T11 prefix-flatten: rename every top-level column `order_<c>`, explode
    * the items array, expand each item field as `item_<f>`, and derive
    *   has_multiple_items    = size(items) > 1        (misa_crm_transformer.py:151)
    *   total_items_in_order  = coalesce(size(items),0) (:172-173 — null and []
    *                           both count as 0)
    */
  def prefixFlatten(df: DataFrame, itemsCol: String): DataFrame = {
    val orderCols = df.columns.filterNot(_ == itemsCol).toIndexedSeq
    val exploded = df.select(
      orderCols.map(c => col(c).as(s"order_$c")) ++ Seq(
        coalesce(size(col(itemsCol)), lit(0)).as("total_items_in_order"),
        (coalesce(size(col(itemsCol)), lit(0)) > 1).as("has_multiple_items"),
        explode_outer(col(itemsCol)).as("__item")): _*)
    val itemFields = exploded.schema("__item").dataType match {
      case s: org.apache.spark.sql.types.StructType => s.fieldNames.toSeq
      case _ => Seq.empty
    }
    val itemCols =
      if (itemFields.nonEmpty) itemFields.map(f => col(s"__item.$f").as(s"item_$f"))
      else Seq(col("__item").as("item_value"))
    exploded.select(
      orderCols.map(c => col(s"order_$c")) ++ itemCols ++
        Seq(col("has_multiple_items"), col("total_items_in_order")): _*)
  }
}
