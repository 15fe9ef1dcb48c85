package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HMAC-SHA256 request signing (SURVEY §2.1 S11 / §4.2): the reference signs
  * every TikTok request with hex(HMAC_SHA256(secret, path + sorted-params))
  * (src/utils/auth.py:32-65). Spark has sha2 but no HMAC builtin, so this is
  * the one place the engine adds a custom Catalyst Expression.
  *
  * CodegenFallback is deliberate: signing runs on connector metadata (a few
  * rows per batch), never in the 100 TB hot path, so interpreted eval costs
  * nothing while keeping the expression usable in SQL.
  */
case class HmacSha256(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "hmac_sha256"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string key, string data), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override protected def nullSafeEval(key: Any, data: Any): Any = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      key.asInstanceOf[UTF8String].getBytes, "HmacSHA256"))
    val out = mac.doFinal(data.asInstanceOf[UTF8String].getBytes)
    UTF8String.fromString(out.map("%02x".format(_)).mkString)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HmacSha256 {

  /** Column API: hex HMAC-SHA256 of `data` under `key`. */
  def hmac_sha256(key: Column, data: Column): Column =
    ColumnBridge.column(HmacSha256(
      ColumnBridge.expression(key), ColumnBridge.expression(data)))

  /** The reference's full request-signature recipe (auth.py:32-65): sign
    * path + keys-sorted concatenated params. Plain Scala for connector use.
    */
  def requestSignature(secret: String, path: String, params: Map[String, String]): String = {
    val base = path + params.toSeq.sortBy(_._1).map { case (k, v) => k + v }.mkString
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      secret.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(base.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
