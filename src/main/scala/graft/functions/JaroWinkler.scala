package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity as a native codegen'd Catalyst expression — the
  * record-linkage scoring primitive Spark lacks (it ships levenshtein but
  * nothing prefix-boosted; fuzzy entity matching wants JW's insensitivity
  * to transpositions and its prefix emphasis).
  *
  * Semantics match DuckDB's `jaro_winkler_similarity` (verified on the
  * classic Winkler fixtures and the empty/degenerate edges): standard Jaro
  * with match window max(|a|,|b|)/2 − 1, transposition halving, 0.0 when
  * either side is empty (including both), and the Winkler prefix boost
  * jw = j + ℓ·0.1·(1−j) with ℓ ≤ 4 applied only when j > 0.7 — which is
  * what lets a DuckDB oracle replay the scores (q119).
  *
  * Codegen emits a static call (the levenshtein pattern), so the
  * expression runs inside WholeStageCodegen — no CodegenFallback in what
  * IS a hot path when scoring candidate pairs at scale.
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "jaro_winkler"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerSim.similarity(
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c1, c2) =>
      s"graft.functions.JaroWinklerSim.similarity($c1.toString(), $c2.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerSim {

  /** Static entry point shared by interpreted eval and generated code. */
  def similarity(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) j
    else {
      val maxL = math.min(4, math.min(s1.length, s2.length))
      var l = 0
      while (l < maxL && s1.charAt(l) == s2.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    }
  }

  private def jaro(s1: String, s2: String): Double = {
    val n1 = s1.length
    val n2 = s2.length
    if (n1 == 0 || n2 == 0) return 0.0
    val window = math.max(math.max(n1, n2) / 2 - 1, 0)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var matches = 0
    var i = 0
    while (i < n1) {
      val lo = math.max(0, i - window)
      val hi = math.min(n2 - 1, i + window)
      var k = lo
      var found = false
      while (!found && k <= hi) {
        if (!m2(k) && s1.charAt(i) == s2.charAt(k)) {
          m1(i) = true; m2(k) = true; matches += 1; found = true
        }
        k += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // Transpositions: walk both matched subsequences in order.
    var t = 0
    var k2 = 0
    i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(k2)) k2 += 1
        if (s1.charAt(i) != s2.charAt(k2)) t += 1
        k2 += 1
      }
      i += 1
    }
    // t counted every out-of-order matched position; Jaro halves it.
    val m = matches.toDouble
    (m / n1 + m / n2 + (m - t / 2.0) / m) / 3.0
  }

  /** Column API. */
  def jaro_winkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinklerSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
