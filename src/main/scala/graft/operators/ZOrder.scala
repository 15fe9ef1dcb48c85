package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout — the data-skipping lever for multi-
  * dimensional predicates at 100 TB: interleave the bits of several
  * cluster keys into one sort key. In a write range-partitioned and
  * sorted by it, parquet row-group/file min-max stats become tight for
  * EVERY interleaved dimension at once. A plain sort clusters only its leading
  * column; z-order trades a little per-column locality so each column's
  * value range per file shrinks like N^(1/dims).
  *
  * Composed entirely from codegen'd builtin bit ops (shift/and/or terms,
  * `bits` per column) — no custom expression needed; Catalyst constant-
  * folds the structure and whole-stage codegen flattens the OR chain.
  */
object ZOrder {

  /** Morton key of `cols` (integral columns, caller buckets doubles/
    * strings first): bit i of column c lands at position i·n + c. `bits`
    * per column; bits·n must fit a signed long. Values are SATURATED into
    * [0, 2^bits): without the clamp, bit truncation would alias value
    * 2^bits + k onto k (scattering far-apart values into the same files)
    * and negative values would alias via the arithmetic shift — clamping
    * keeps the key monotone at the domain edges instead.
    */
  def zkey(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zkey needs at least one column")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits ($bits) × columns (${cols.size}) must stay within a signed long")
    val n = cols.size
    val maxV = (1L << bits) - 1
    val terms = for {
      i <- 0 until bits
      (c, ci) <- cols.zipWithIndex
      clamped = least(greatest(c.cast("long"), lit(0L)), lit(maxV))
    } yield shiftleft(shiftright(clamped, i).bitwiseAND(lit(1L)), i * n + ci)
    terms.reduce(_ bitwiseOR _)
  }
}
