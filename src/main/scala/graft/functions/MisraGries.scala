package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter summary as a native Catalyst aggregate: a
  * bounded map of at most `k` (key, lower-bound-count) counters whose final
  * key set PROVABLY contains every key with true frequency > n/(k+1) — in
  * particular every key above the n/k heavy-hitter threshold — regardless
  * of row order or how partial buffers are merged (Misra & Gries 1982;
  * merge rule from Agarwal et al., "Mergeable Summaries", PODS'12).
  *
  * This is the candidate-pruning half of the two-pass distributed
  * heavy-hitters operator (see `operators.Frequency.heavyHitters`): each
  * task reduces its partition to a k-sized summary (map-side partial
  * aggregation — the shuffle carries k counters per task, never the
  * billion-key vocabulary a full groupBy would move at 100 TB), summaries
  * merge associatively, and an exact recount over the ≤ k surviving
  * candidates makes the final answer deterministic and sketch-free.
  *
  * Returns the candidate keys sorted ascending (count order would expose
  * merge-order-dependent lower bounds; the key set itself is what the
  * guarantee covers).
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "misra_gries"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] = {
    require(k >= 1, s"$prettyName: k must be >= 1, got $k")
    mutable.HashMap.empty[UTF8String, Long]
  }

  override def update(buf: mutable.HashMap[UTF8String, Long], input: InternalRow)
      : mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // UTF8String buffers are reused by unsafe row readers, but lookup by
      // the transient value is safe (hash/equals are byte-wise) — only an
      // INSERT needs an owned copy. clone() copies the backing bytes and
      // skips the former per-row toString (UTF-16 decode) entirely; for a
      // key already tracked, the map's stored key object is retained and
      // zero bytes are copied — the common case on skewed hot keys.
      val key = v.asInstanceOf[UTF8String]
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1)
        case None if buf.size < k => buf.update(key.clone(), 1L)
        case None =>
          // Counter set full and the key is absent: decrement every counter
          // (conceptually pairing this occurrence with one of each tracked
          // key and discarding all k+1). O(k) here, but each unit of count
          // removed was one unit added earlier — amortized O(1) per row.
          decrementAll(buf, 1L)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[UTF8String, Long],
      other: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (key, c) =>
      buf.update(key, buf.getOrElse(key, 0L) + c)
    }
    if (buf.size > k) {
      // Shrink back to k counters by subtracting the (k+1)-th largest
      // count from all — the mergeable-summaries rule that preserves the
      // undercount bound (error ≤ n/(k+1)) under any merge tree.
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      decrementAll(buf, counts(counts.length - (k + 1)))
    }
    buf
  }

  private def decrementAll(buf: mutable.HashMap[UTF8String, Long], by: Long): Unit = {
    val dead = mutable.ArrayBuffer.empty[UTF8String]
    buf.foreach { case (key, c) =>
      if (c - by <= 0) dead += key else buf.update(key, c - by)
    }
    dead.foreach(buf.remove)
  }

  // UTF8String's Comparable is byte-wise UTF-8 order = Unicode code-point
  // order — identical to the former String sort for the BMP and MATCHING
  // an external engine's binary collation where Java's UTF-16 code-unit
  // order would diverge (supplementary characters).
  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any =
    new GenericArrayData(buf.keysIterator.toArray.sorted[UTF8String])

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (key, c) =>
      val bytes = key.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

object MisraGries {

  /** Column form: `misra_gries(key, k)` → array<string> of ≤ k candidate
    * keys guaranteed to include every key with frequency > n/(k+1).
    */
  def misra_gries(key: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGries(ColumnBridge.expression(key), k).toAggregateExpression())
}
