package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two array<double> columns.
  *
  * Spark's higher-order functions (aggregate/zip_with) are CodegenFallback —
  * every evaluation allocates lambda frames and boxes elements, which
  * dominates all-pairs similarity (measured ~2× the whole q25 runtime at
  * sf0.1). This expression generates a tight primitive loop instead, and is
  * the engine's one hot-path custom expression (SURVEY §4.2 stance: custom
  * Catalyst work only where builtins genuinely can't express the cost).
  *
  * Semantics match the aggregate(zip_with(a,b,_*_), 0.0, _+_) fold it
  * replaces exactly: left-to-right summation (bit-identical values, DuckDB
  * oracle parity), NULL when the lengths differ (zip_with pads with nulls →
  * fold is null) and NULL when any element is null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "dot_product"
  override def dataType: DataType = DoubleType
  // Null elements / ragged lengths produce NULL even when both array
  // columns themselves are non-nullable.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
