package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

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

/** Count–Min sketch as a native Catalyst aggregate (Cormode &
  * Muthukrishnan 2005, "An Improved Data Stream Summary: The Count-Min
  * Sketch and its Applications"): a `depth × width` grid of counters;
  * each key occurrence increments one counter per row (depth independent
  * hashes), and a key's frequency estimate is the MINIMUM of its depth
  * counters — never an undercount, overcount bounded by ε·n with
  * ε = e/width at probability 1−(1/e)^depth.
  *
  * This is the [[MisraGries]] family's other half: Misra–Gries answers
  * "which keys are heavy" (bounded key SET), Count–Min answers "how
  * often is THIS key" for any key, in O(depth·width) space regardless of
  * vocabulary — the point-query sketch for a billion-key column at
  * 100 TB, mergeable across partitions/days by plain element-wise
  * addition (map-side partial aggregation ships one fixed-size grid per
  * task, never the vocabulary).
  *
  * Unlike most sketches the STATE is deterministic: counters are sums,
  * so the final grid is independent of row order and merge shape — an
  * external engine can replay the whole sketch exactly. To keep that
  * replay possible in ANY engine, the row hashes are md5-based (the
  * [[graft.operators.Dedup.auditableTokenHash]] discipline: first 15 hex
  * digits of md5("&lt;row&gt;:&lt;key&gt;") as a 60-bit integer, mod width), not a
  * JVM-private hash.
  */
case class CountMin(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "count_min"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] = {
    require(depth >= 1 && width >= 2,
      s"$prettyName: need depth >= 1 and width >= 2, got ($depth, $width)")
    new Array[Long](depth * width)
  }

  // "i:" prefixes pre-encoded once per operator instance: the update path
  // then md5-updates prefix bytes + UTF8String.getBytes directly, which is
  // byte-identical to digesting s"$i:$key" (md5 over a concatenation ==
  // incremental updates) but skips the String + StringBuilder + re-encode
  // allocations per row per depth on the per-token hot path (q154/q90 and
  // the streaming sketch).
  @transient private lazy val rowPrefixes: Array[Array[Byte]] =
    Array.tabulate(depth)(i =>
      s"$i:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val keyBytes = v.asInstanceOf[UTF8String].getBytes
      var i = 0
      while (i < depth) {
        buf(i * width + CountMin.bucketBytes(rowPrefixes(i), keyBytes, width)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8 + 4)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMin =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMin =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMin =
    copy(child = newChild)
}

object CountMin {

  // One digest per thread, reset per call: getInstance("MD5") per ROW
  // was the q154 hot path (4 allocations + provider lookups per token).
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Row-i bucket of `key`: first 15 hex digits of md5("i:key") as a
    * 60-bit non-negative integer, mod width — replayable in any engine
    * with an md5 function (DuckDB:
    * `CAST(('0x' || substr(md5(i || ':' || key), 1, 15)) AS BIGINT) % width`).
    * The 15 hex digits are the top 60 bits of the digest, read
    * big-endian — exactly the prefix of the lowercase hex rendering.
    */
  def bucket(row: Int, key: String, width: Int): Int =
    bucketBytes(
      s"$row:".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      key.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      width)

  /** Byte-level form for the aggregate's hot path: digest(prefix ++ key)
    * via two incremental updates — md5-identical to the String concat,
    * zero intermediate allocation.
    */
  def bucketBytes(prefixUtf8: Array[Byte], keyUtf8: Array[Byte], width: Int): Int = {
    val md = digest.get()
    md.reset()
    md.update(prefixUtf8)
    val d = md.digest(keyUtf8)
    // First 15 hex chars = first 7.5 bytes: assemble the 60-bit value
    // directly instead of formatting hex and re-parsing it.
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v = (v << 4) | ((d(7) & 0xf0L) >> 4)
    (v % width).toInt
  }

  /** Column form: `count_min(key, depth, width)` → array<long> of
    * depth·width counters, row-major.
    */
  def count_min(key: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CountMin(ColumnBridge.expression(key), depth, width).toAggregateExpression())
}
