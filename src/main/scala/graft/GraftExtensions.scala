package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CountMin, DotProduct, HmacSha256, HyperLogLog, JaroWinklerSim, MinHashSignature, MisraGries, SimHash64}

/** Graft's custom expressions as SQL functions: `hmac_sha256`,
  * `dot_product`, `minhash_signature`, `simhash64`, `jaro_winkler`,
  * `misra_gries`, `count_min` and `hll_registers`.
  *
  * [[GraftExtensions.functions]] is the single list. Two ways put it into
  * a session, and both install exactly that list:
  *
  *   - at build time, as a SparkSessionExtensions entry point
  *     (`withExtensions(new GraftExtensions)` on the builder, or
  *     `spark.sql.extensions=graft.GraftExtensions`);
  *   - into a live session with [[GraftExtensions.register]], which
  *     [[GraftSession.registerViews]] calls.
  *
  * This is the lightest extension tier: function injection only — no
  * optimizer rules, strategies or physical plans, because every operator
  * is expressible in stock Catalyst.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def fn(name: String, usage: String)(builder: FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      builder)

  /** A sketch width/depth argument: must be a foldable int or long
    * literal; anything else fails with a named error instead of a
    * ClassCastException.
    */
  private def intLit(function: String, arg: String, e: Expression): Int =
    if (!e.foldable) throw new IllegalArgumentException(
      s"$function: $arg must be an integer literal, got a non-foldable expression")
    else e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case other => throw new IllegalArgumentException(
        s"$function: $arg must be an integer literal, got $other")
    }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("hmac_sha256", "hmac_sha256(key, data) - hex HMAC-SHA256 of data under key")(
      e => HmacSha256(e(0), e(1))),
    fn("dot_product", "dot_product(a, b) - dot product of two array<double>")(
      e => DotProduct(e(0), e(1))),
    fn("minhash_signature",
      "minhash_signature(hashes, k) - k-wide MinHash signature over pre-hashed array<bigint>")(
      e => MinHashSignature(e(0), intLit("minhash_signature", "k", e(1)))),
    fn("simhash64", "simhash64(hashes) - 64-bit SimHash over pre-hashed array<bigint>")(
      e => SimHash64(e(0))),
    fn("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] (DuckDB-compatible semantics)")(
      e => JaroWinklerSim(e(0), e(1))),
    // The analyzer wraps a bare AggregateFunction in AggregateExpression.
    fn("misra_gries",
      "misra_gries(key, k) - heavy-hitter candidate keys (Misra-Gries summary of width k)")(
      e => MisraGries(e(0), intLit("misra_gries", "k", e(1)))),
    fn("count_min",
      "count_min(key, depth, width) - Count-Min sketch grid (array<bigint>, row-major)")(
      e => CountMin(e(0), intLit("count_min", "depth", e(1)),
        intLit("count_min", "width", e(2)))),
    fn("hll_registers",
      "hll_registers(key, p) - HyperLogLog register vector (array<int> of 2^p rank maxima)")(
      e => HyperLogLog(e(0), intLit("hll_registers", "p", e(1))).toAggregateExpression()))

  /** Install [[functions]] into a live session. Registering again
    * replaces each entry with itself, so repeated calls are harmless.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
