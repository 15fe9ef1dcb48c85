package org.apache.spark.sql.catalyst.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the supported
  * conversion lives in `private[sql]` ExpressionUtils. This bridge sits in
  * the org.apache.spark.sql namespace (in graft's one bridge package,
  * beside [[JsonBridge]]) to expose exactly those two conversions to
  * graft's custom expressions — the same approach Spark extension
  * libraries use for Catalyst interop.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
