package graft.core

import org.apache.spark.sql.DataFrame
import graft.core.SafeCasts.CastSpec

/** Registry of the engine's staging tables (SURVEY §1.4, §2.6 L9): per
  * table, the upsert/dedup key and the type-coercion spec — the behavioral
  * content of the reference's 6 DDLs + per-entity transformer allowlists.
  * The key spec drives L4 dedup-append and L5 MERGE (SURVEY §7.4.6); the
  * cast specs are the reference's pandas coercion lists re-expressed for
  * SafeCasts.castColumns.
  *
  * Partitioning is not part of a table's spec: the manifest deltas the
  * pipelines commit are written unpartitioned. A caller that wants a
  * date-pruned table writes it with Spark's own
  * `df.write.partitionBy(..).parquet(path)`.
  */
object SchemaRegistry {

  /** @param nestedItemsColumn when present, ingest payloads carry a nested
    *        item array under this name and must be prefix-flattened before
    *        normalization (drives the pipeline dispatch — no endpoint-name
    *        string matching in pipeline code).
    */
  final case class TableSpec(
      name: String,
      keys: Seq[String],
      casts: CastSpec,
      nestedItemsColumn: Option[String] = None)

  /** TikTok order detail: PK per create_tiktok_shop_orders_table.sql:82;
    * casts handled structurally in TikTokFlatten.
    */
  val tiktokOrders: TableSpec = TableSpec(
    name = "tiktok_shop_orders",
    keys = Seq("etl_batch_id", "order_id", "item_id", "item_sku_id"),
    casts = CastSpec())

  /** MISA customers (create_misa_crm_tables.sql:36-155; allowlists
    * misa_crm_transformer.py:75-104).
    */
  val misaCustomers: TableSpec = TableSpec(
    name = "misa_customers",
    keys = Seq("id"),
    casts = CastSpec(
      numeric = Seq("annual_revenue", "debt", "debt_limit", "number_of_days_owed",
        "number_orders", "order_sales", "average_order_value",
        "average_number_of_days_between_purchases", "number_days_without_purchase",
        "billing_long", "billing_lat", "shipping_long", "shipping_lat", "total_score"),
      timestamps = Seq("purchase_date_recent", "purchase_date_first",
        "customer_since_date", "last_interaction_date", "last_visit_date",
        "last_call_date", "issued_on", "celebrate_date", "created_date",
        "modified_date", "last_modified_date"),
      booleans = Seq("is_personal", "inactive", "is_public", "is_distributor",
        "is_portal_access")))

  /** MISA sale orders flattened (DDL :173-300, PK (order_id, item_id));
    * money/qty casts on the prefix-flattened columns.
    */
  val misaSaleOrders: TableSpec = TableSpec(
    name = "misa_sale_orders_flattened",
    keys = Seq("order_id", "item_id"),
    nestedItemsColumn = Some("sale_order_product_mappings"),
    casts = CastSpec(
      numeric = Seq("order_sale_order_amount", "order_total_summary",
        "order_tax_summary", "order_discount_summary", "order_exchange_rate",
        "item_price", "item_amount", "item_total", "item_mass",
        "item_height", "item_width"),
      timestamps = Seq("order_sale_order_date", "order_due_date",
        "order_book_date", "order_delivery_date", "order_created_date",
        "order_modified_date", "item_expire_date"),
      booleans = Seq("order_is_use_currency", "item_is_promotion")))

  /** MISA contacts (DDL :320-417; allowlists :249-266). */
  val misaContacts: TableSpec = TableSpec(
    name = "misa_contacts",
    keys = Seq("id"),
    casts = CastSpec(
      numeric = Seq("mailing_long", "mailing_lat", "shipping_long",
        "shipping_lat", "total_score", "number_days_not_interacted"),
      timestamps = Seq("date_of_birth", "customer_since_date",
        "last_interaction_date", "last_visit_date", "last_call_date",
        "created_date", "modified_date"),
      booleans = Seq("email_opt_out", "phone_opt_out", "inactive", "is_public")))

  /** MISA stocks (DDL :430-467; allowlists :287-296). */
  val misaStocks: TableSpec = TableSpec(
    name = "misa_stocks",
    keys = Seq("stock_code"),
    casts = CastSpec(
      timestamps = Seq("created_date", "modified_date"),
      booleans = Seq("inactive")))

  /** MISA products (DDL :472-548; allowlists :316-337). */
  val misaProducts: TableSpec = TableSpec(
    name = "misa_products",
    keys = Seq("id"),
    casts = CastSpec(
      numeric = Seq("unit_price", "purchased_price", "unit_cost",
        "unit_price1", "unit_price2", "unit_price_fixed"),
      timestamps = Seq("created_date", "modified_date"),
      booleans = Seq("price_after_tax", "is_use_tax", "is_follow_serial_number",
        "is_set_product", "inactive", "is_public")))

  val all: Seq[TableSpec] = Seq(tiktokOrders, misaCustomers, misaSaleOrders,
    misaContacts, misaStocks, misaProducts)

  val byName: Map[String, TableSpec] = all.map(t => t.name -> t).toMap

  /** T13 endpoint dispatch (transform_all_endpoints,
    * misa_crm_transformer.py:349-386): route a raw entity frame through its
    * spec's coercions. Sale orders must be prefix-flattened FIRST
    * (operators.Flatten.prefixFlatten) — this applies the post-flatten casts.
    */
  def normalize(df: DataFrame, spec: TableSpec): DataFrame =
    SafeCasts.castColumns(df, spec.casts)
}
