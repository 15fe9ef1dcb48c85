package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd sketch expressions over PRE-HASHED token/shingle arrays
  * (array<long>). Like [[DotProduct]], these replace higher-order-function
  * folds that run as interpreted CodegenFallback in the per-document hot
  * path. Hashing the strings stays in the plan (one `transform` with
  * xxhash64 per document — cheap, once per element); the k×n / 64×n
  * arithmetic lives here as primitive loops.
  */

/** k-wide MinHash signature: sig[j] = min over hashes h of (a_j·h + b_j) mod P.
  * Parameters derive deterministically from j (no RNG state). Output
  * array<long> of length k. Bit-identical to the aggregate/zip_with fold it
  * replaces.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> of pre-reduced hashes, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = MinHashSignature.initSig(k)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * MinHashSignature.a(j) + MinHashSignature.b(j)) % MinHashSignature.P
        val vv = if (v < 0) v + MinHashSignature.P else v
        if (vv < sig(j)) sig(j) = vv
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val mh = MinHashSignature.getClass.getName.stripSuffix("$") + "$.MODULE$"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $input.numElements();
         |long[] $sig = $mh.initSig($k);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $input.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($h * $mh.a($j) + $mh.b($j)) % ${MinHashSignature.P}L;
         |    if ($v < 0) $v += ${MinHashSignature.P}L;
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  val P: Long = 2147483647L // 2^31 - 1

  /** Deterministic universal-hash parameters, shared by eval and codegen. */
  def a(j: Int): Long = (2654435761L * (j + 1)) % P | 1L
  def b(j: Int): Long = (40503L * (j + 7)) % P

  def initSig(k: Int): Array[Long] = Array.fill(k)(P)

  def minhash_signature(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), k))
}

/** 64-bit SimHash over pre-hashed tokens: bit b of the result is the sign
  * of Σ_tokens (±1 by bit b of the token hash). Bit-identical to the
  * higher-order-fold formulation.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> of token hashes, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sums = new Array[Long](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var bit = 0
      while (bit < 64) {
        sums(bit) += (if (((h >>> bit) & 1L) == 1L) 1L else -1L)
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (sums(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val bit = ctx.freshName("bit")
      val sums = ctx.freshName("sums")
      val out = ctx.freshName("out")
      s"""
         |int $n = $input.numElements();
         |long[] $sums = new long[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $input.getLong($i);
         |  for (int $bit = 0; $bit < 64; $bit++) {
         |    $sums[$bit] += ((($h >>> $bit) & 1L) == 1L) ? 1L : -1L;
         |  }
         |}
         |long $out = 0L;
         |for (int $bit = 0; $bit < 64; $bit++) {
         |  if ($sums[$bit] > 0) $out |= (1L << $bit);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))
}
