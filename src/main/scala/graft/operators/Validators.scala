package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** A5 transform-validation invariants — the reference's core correctness
  * checks, promoted to first-class operators
  * (misa_crm_transformer.py:388-447; tiktok_shop_transformer.py:197-235):
  *
  *   1. distinct orders in the flattened output == orders in the input
  *   2. flattened rows with a non-null item  == Σ items in the input
  *   3. total flattened rows                 == Σ max(items, 1) per order
  *   4. null-PK rows                         == 0
  *
  * All four are computed in ONE aggregation pass over the flattened frame
  * plus one over each input — no row comparison, O(n) with partial aggs.
  */
object Validators {

  final case class FlattenInvariants(
      ordersIn: Long,
      distinctOrdersOut: Long,
      itemsIn: Long,
      itemRowsOut: Long,
      totalRowsOut: Long,
      nullPkRows: Long) {
    def holds: Boolean =
      distinctOrdersOut == ordersIn &&
        itemRowsOut == itemsIn &&
        totalRowsOut >= ordersIn &&
        nullPkRows == 0L
  }

  /** Evaluate the invariants for a flatten of `orders` (keyed `orderKey`)
    * against `flattened` whose item-presence marker is `itemCol` (null for
    * the zero-item row).
    */
  def flattenInvariants(orders: DataFrame, orderKey: String, itemsCount: Long,
      flattened: DataFrame, flatOrderKey: String, itemCol: String): FlattenInvariants = {
    val ordersIn = orders.count()
    // coalesce: sum() over an EMPTY frame aggregates to null, and
    // Row.getLong(null) throws — an empty micro-batch must validate as the
    // trivially-correct empty flatten, not NPE.
    val row = flattened.agg(
      countDistinct(col(flatOrderKey)).as("d"),
      coalesce(sum(when(col(itemCol).isNotNull, 1L).otherwise(0L)), lit(0L)).as("i"),
      count(lit(1)).as("t"),
      coalesce(sum(when(col(flatOrderKey).isNull, 1L).otherwise(0L)), lit(0L)).as("np")).head()
    FlattenInvariants(ordersIn, row.getLong(0), itemsCount, row.getLong(1),
      row.getLong(2), row.getLong(3))
  }

  /** Functional-dependency audit — the verification half of FD profiling
    * (cf. Papenbrock et al., VLDB 2015's discovery suites; a warehouse
    * runs this side continuously): for each candidate `lhs -> rhs` pair,
    * the EXACT number of lhs groups carrying more than one distinct rhs.
    * The read that catches silently-denormalized dimensions ("order ->
    * customer should hold; 3k orders now map to 2 customers each"),
    * validates merge keys before a MERGE, and prices whether a column is
    * safe to drop into a dimension table.
    *
    * Scale shape: ONE cached projection of exactly the audited columns
    * feeds every pair; each pair is a two-phase (lhs, countDistinct rhs)
    * aggregation — map-side partials shrink each shuffle to its distinct
    * lhs population, and the per-pair summaries are one-row frames
    * unioned driver-free. Distinct-key work never leaves its pair's
    * shuffle; nothing is collected.
    *
    * Null semantics (documented, matching ANSI COUNT(DISTINCT)): a NULL
    * lhs forms its own group; NULL rhs values don't count toward a
    * group's cardinality, so an all-null-rhs group has cardinality 0 and
    * cannot violate. `viol_ppm` is exact fixed-point (BIGINT ppm).
    */
  def fdAudit(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "fdAudit: need at least one (lhs, rhs) pair")
    val needed = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(col)
    val src = CacheScope.cached(df.select(needed: _*))
    val perPair = pairs.map { case (l, r) =>
      src.groupBy(col(l))
        .agg(countDistinct(col(r)).as("c"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("violating_groups"),
          max(col("c")).as("max_rhs_card"))
        .select(lit(l).as("lhs"), lit(r).as("rhs"), col("n_groups"),
          col("violating_groups"), col("max_rhs_card"))
    }
    perPair.reduce(_ union _)
      .select(col("lhs"), col("rhs"), col("n_groups"),
        col("violating_groups"), col("max_rhs_card"),
        (col("violating_groups") === 0L).as("holds"),
        expr("(violating_groups * 1000000) div n_groups").as("viol_ppm"))
  }

  /** Per-partition integrity manifest: row count + an ORDER-INDEPENDENT
    * content checksum per partition value — the tool that validates a
    * replication, backfill, or engine migration without moving the data
    * twice (compare two manifests, not two tables; the same idea as
    * distcp/table-checksum validation in the public Hadoop tooling).
    * XOR of per-row md5-60-bit hashes is commutative and associative, so
    * the checksum is independent of row order, partitioning, and shuffle
    * nondeterminism — two equal partitions produce equal manifests on
    * ANY engine; a pair of differing rows collides only with probability
    * 2^-60 (and deletions that cancel insertions pairwise XOR-hide —
    * this is an equality check, not a cryptographic audit; the row
    * count catches the cardinality half).
    *
    * The canonical row string is the contract: `name=value` fields
    * joined with `|`, with an INJECTIVE value encoding — inside every
    * value the escape char and both delimiters are escaped (`\`→`\\`,
    * `|`→`\|`, `=`→`\=`) and NULL is spelled as the whole-value marker
    * `\N`, which no escaped value can produce (escaping never emits a
    * lone `\` before `N`). A free-text value containing `|name=` can
    * therefore never alias a different row's encoding, and null never
    * aliases any string (including literal "N"). Field names are
    * restricted to `[A-Za-z0-9_]+` for the same reason. Callers must
    * still canonicalize floats to fixed-point integers BEFORE passing
    * them (float formatting is engine-specific; integer-to-string is
    * not).
    *
    * Scale shape: one scan, one per-partition aggregation with map-side
    * partials — the manifest costs what a count(*) costs.
    */
  private def requireFieldNames(op: String,
      fields: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    require(fields.nonEmpty, s"$op: need at least one field")
    require(fields.forall(_._1.matches("[A-Za-z0-9_]+")),
      s"$op: field names must be [A-Za-z0-9_]+ (they are part of the " +
        s"canonical encoding), got ${fields.map(_._1)}")
  }

  // Escape order matters: the escape char first, then the delimiters —
  // codegen'd string replace, three passes over values that carry no
  // specials cost a scan each, nothing allocates beyond the one result.
  private def esc(c: org.apache.spark.sql.Column) =
    replace(replace(replace(c.cast("string"),
      lit("\\"), lit("\\\\")), lit("|"), lit("\\|")), lit("="), lit("\\="))

  /** One field's canonical `name=value` encoding (NULL → `name=\N`). */
  private def canonField(n: String, c: org.apache.spark.sql.Column) =
    concat(lit(s"$n="), coalesce(esc(c), lit("\\N")))

  def partitionChecksum(df: DataFrame, partCol: org.apache.spark.sql.Column,
      fields: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    requireFieldNames("partitionChecksum", fields)
    val canon = concat_ws("|",
      fields.map { case (n, c) => canonField(n, c) }: _*)
    df.select(partCol.cast("string").as("part"),
        Dedup.auditableTokenHash(canon).as("h60"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h60)").as("xor_checksum"))
  }

  /** [[partitionChecksum]] with FIELD-LEVEL attribution: beside the row
    * checksum, one order-independent XOR per field (over that field's
    * own `name=value` canonical encoding), so a manifest comparison can
    * name WHICH column drifted instead of just "checksum_mismatch" —
    * the difference between "day X disagrees, rescan it" and "day X's
    * `v` column disagrees, audit the value pipeline". Same injective
    * encoding, same pair-cancellation caveat (the row count is still the
    * unfoolable half), ~|fields| extra md5 hashes per row.
    *
    * Scale shape: unchanged — one scan, one per-partition aggregation
    * with map-side partials; the extra per-field hashes are per-row
    * projection work inside the same stage.
    */
  def partitionChecksumFields(df: DataFrame,
      partCol: org.apache.spark.sql.Column,
      fields: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    requireFieldNames("partitionChecksumFields", fields)
    val canon = concat_ws("|",
      fields.map { case (n, c) => canonField(n, c) }: _*)
    val hashed = df.select(
      (partCol.cast("string").as("part") +:
        Dedup.auditableTokenHash(canon).as("h60") +:
        fields.map { case (n, c) =>
          Dedup.auditableTokenHash(canonField(n, c)).as(s"hf_$n") }): _*)
    val aggs = count(lit(1)).as("n_rows") +:
      expr("bit_xor(h60)").as("xor_checksum") +:
      fields.map { case (n, _) => expr(s"bit_xor(hf_$n)").as(s"xor_f_$n") }
    hashed.groupBy(col("part")).agg(aggs.head, aggs.tail: _*)
  }

  /** The validation step [[partitionChecksum]] exists for: diff two
    * manifests and report, per partition, exactly what disagrees —
    * `missing_left` / `missing_right` (a partition only one side has),
    * `count_mismatch` (cardinality drift — checked FIRST, because XOR
    * can collide on pair-cancelling edits and the count is the
    * unfoolable half), `checksum_mismatch` (same cardinality, different
    * content), or `match`. Replication/backfill/migration validation
    * reads THIS frame, not the tables: the expensive scans happened once
    * per side inside partitionChecksum; the diff is manifest-sized.
    *
    * Scale shape: a full-outer join of two one-row-per-partition frames
    * on the partition key — both sides bounded by partition count, and
    * full outer cannot broadcast, so the sort-merge join on the manifest
    * key is the intended shape at any scale.
    */
  /** [[manifestDiff]] over [[partitionChecksumFields]] manifests: same
    * statuses and precedence (count before checksum), plus
    * `drifted_fields` — the comma-joined (input-order) list of fields
    * whose per-field XOR disagrees. Attribution only exists where it is
    * meaningful: NULL for missing/count_mismatch partitions (per-field
    * multiset XORs aren't comparable across different cardinalities),
    * empty string for a clean match. `fieldNames` must be the same
    * field list (same order) both manifests were built with.
    *
    * Scale shape: identical to [[manifestDiff]] — one full-outer SMJ of
    * two |partitions|-row frames; the field comparison is a per-row
    * projection over the joined manifest.
    */
  def manifestDiffFields(a: DataFrame, b: DataFrame,
      fieldNames: Seq[String]): DataFrame = {
    require(fieldNames.nonEmpty, "manifestDiffFields: need field names")
    val l = a.select((col("part") +: col("n_rows").as("n_rows_a") +:
      col("xor_checksum").as("xor_a") +:
      fieldNames.map(n => col(s"xor_f_$n").as(s"xa_$n"))): _*)
    val r = b.select((col("part") +: col("n_rows").as("n_rows_b") +:
      col("xor_checksum").as("xor_b") +:
      fieldNames.map(n => col(s"xor_f_$n").as(s"xb_$n"))): _*)
    // concat_ws skips null elements, so a no-drift comparable partition
    // reads as '' while non-comparable ones are explicitly NULL.
    val drifted = when(col("n_rows_a").isNotNull && col("n_rows_b").isNotNull
        && col("n_rows_a") === col("n_rows_b"),
      concat_ws(",", array(fieldNames.map(n =>
        when(col(s"xa_$n") =!= col(s"xb_$n"), lit(n))): _*)))
    l.join(r, Seq("part"), "full_outer")
      .select(col("part"), col("n_rows_a"), col("n_rows_b"),
        when(col("n_rows_a").isNull, "missing_left")
          .when(col("n_rows_b").isNull, "missing_right")
          .when(col("n_rows_a") =!= col("n_rows_b"), "count_mismatch")
          .when(col("xor_a") =!= col("xor_b"), "checksum_mismatch")
          .otherwise("match").as("status"),
        drifted.as("drifted_fields"))
  }

  def manifestDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("part"), col("n_rows").as("n_rows_a"),
      col("xor_checksum").as("xor_a"))
    val r = b.select(col("part"), col("n_rows").as("n_rows_b"),
      col("xor_checksum").as("xor_b"))
    l.join(r, Seq("part"), "full_outer")
      .select(col("part"), col("n_rows_a"), col("n_rows_b"),
        when(col("n_rows_a").isNull, "missing_left")
          .when(col("n_rows_b").isNull, "missing_right")
          .when(col("n_rows_a") =!= col("n_rows_b"), "count_mismatch")
          .when(col("xor_a") =!= col("xor_b"), "checksum_mismatch")
          .otherwise("match").as("status"))
  }
}
