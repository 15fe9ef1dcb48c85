package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a native Catalyst aggregate: keep the k
  * largest (ord, id) pairs, ordered by ord DESC with id ASC as the
  * deterministic tie-break.
  *
  * This is the aggregation-shaped alternative to the
  * `row_number().over(Window.partitionBy(g).orderBy(...)) <= k` idiom
  * (q18): the window SORTS every row of every group — at 100 TB that is a
  * full shuffle of the fact table plus an n·log n per-partition sort just
  * to discard all but k rows per group. This aggregate keeps a k-bounded
  * heap per group per task (map-side partial aggregation), so the shuffle
  * carries at most k pairs per group per task and nothing is ever globally
  * sorted. Merge is heap-union-truncate — associative and
  * order-insensitive, so the result is deterministic under any
  * partitioning (ties cannot survive ambiguously: the (ord desc, id asc)
  * order is total whenever ids are unique, which the caller must ensure).
  *
  * Returns array<struct<ord:double, id:long>> sorted (ord desc, id asc).
  * NULL ord or id contributes nothing. NaN ord is rejected at update time
  * (NaN ordering differs across engines; an oracle could not replay it).
  */
case class TopKByOrd(
    ord: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[(Double, Long)]]
  with BinaryLike[Expression] {

  override def prettyName: String = "top_k_by"
  override def left: Expression = ord
  override def right: Expression = id
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (ord.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (o, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double ord, bigint id), got (${o.simpleString}, ${i.simpleString})")
    }

  /** Buffer: UNSORTED pool of ≤ 2k candidates; compacted to the true top-k
    * only when it doubles (amortized O(1) per row, no per-row heap ops)
    * and at serialize/eval time.
    */
  override def createAggregationBuffer(): mutable.ArrayBuffer[(Double, Long)] = {
    require(k >= 1, s"$prettyName: k must be >= 1, got $k")
    mutable.ArrayBuffer.empty
  }

  // (ord desc, id asc): the total order everything below agrees on.
  private val ordering: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  private def compact(buf: mutable.ArrayBuffer[(Double, Long)]): Unit =
    if (buf.length > k) {
      val kept = buf.sorted(ordering).take(k)
      buf.clear()
      buf ++= kept
    }

  override def update(buf: mutable.ArrayBuffer[(Double, Long)], input: InternalRow)
      : mutable.ArrayBuffer[(Double, Long)] = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null) {
      val ov = o.asInstanceOf[Double]
      if (ov.isNaN) throw new IllegalArgumentException(
        s"$prettyName: NaN ord value (id=$i) — NaN has no engine-portable order")
      buf += ((ov, i.asInstanceOf[Long]))
      if (buf.length >= 2 * k) compact(buf)
    }
    buf
  }

  override def merge(buf: mutable.ArrayBuffer[(Double, Long)],
      other: mutable.ArrayBuffer[(Double, Long)]): mutable.ArrayBuffer[(Double, Long)] = {
    buf ++= other
    compact(buf)
    buf
  }

  override def eval(buf: mutable.ArrayBuffer[(Double, Long)]): Any = {
    val top = buf.sorted(ordering).take(k)
    new GenericArrayData(top.map { case (o, i) => InternalRow(o, i) }.toArray[Any])
  }

  override def serialize(buf: mutable.ArrayBuffer[(Double, Long)]): Array[Byte] = {
    compact(buf)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (o, i) => out.writeDouble(o); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < n) { buf += ((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByOrd =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByOrd =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByOrd =
    copy(ord = newLeft, id = newRight)
}

object TopKByOrd {

  /** Column form: `top_k_by(ord, id, k)` → array<struct<ord, id>> of the k
    * largest pairs under (ord desc, id asc).
    */
  def top_k_by(ord: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByOrd(ColumnBridge.expression(ord), ColumnBridge.expression(id), k)
        .toAggregateExpression())
}
