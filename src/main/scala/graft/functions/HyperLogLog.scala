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

/** HyperLogLog register vector as a native Catalyst aggregate (Flajolet,
  * Fusy, Gandouet & Meunier 2007, "HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm"): m = 2^p registers;
  * each key hashes to 60 bits, the top p bits pick a register, and the
  * register keeps the MAXIMUM over keys of (1 + leading-zero count of the
  * remaining 60−p bits) — the mergeable distinct-count sketch. Spark's own
  * `approx_count_distinct` is HLL++ with a JVM-private hash and a packed
  * binary buffer; this variant exists for the property the engine's whole
  * audit surface is built on: the STATE is replayable in any engine.
  *
  * This completes the sketch triptych: [[MisraGries]] answers "which keys
  * are heavy" (bounded key set), [[CountMin]] answers "how often is THIS
  * key" (point queries), HyperLogLog answers "how many DISTINCT keys"
  * in m integers regardless of vocabulary — the per-source/per-day
  * cardinality read for a billion-key column at 100 TB, mergeable across
  * partitions and days by element-wise max (map-side partial aggregation
  * ships one m-int vector per task, never the vocabulary).
  *
  * Determinism: registers are maxima of per-key ranks, so the final
  * vector is independent of row order, duplication, and merge shape; the
  * hash is the md5 auditable-hash discipline ([[CountMin.bucket]]'s):
  * first 15 hex digits of md5(key) read as a 60-bit integer. An external
  * engine replays the vector exactly — in DuckDB,
  * `CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT)` gives the 60-bit
  * hash, `hash >> (60-p)` the register, and `CASE WHEN w = 0 THEN 61-p
  * ELSE 61 - p - length(bin(w)) END` the rank (bin() drops leading
  * zeros, so its length is floor(log2 w) + 1).
  */
case class HyperLogLog(
    child: Expression,
    p: Int,
    // PRODUCTION hash option: xxhash64 (Spark's own XXH64, seed 42)
    // instead of md5 for the 60-bit key hash. ~10× cheaper per key — the
    // right choice for a 100 TB run where the sketch is consumed inside
    // this engine — but NOT the auditable-replay discipline: an external
    // engine can replay md5 registers exactly (the q172/q182 oracle
    // contract), while xxhash64's bit-stream is implementation-defined
    // across engines. Fast registers therefore never appear in a
    // declared oracle query; estimates from either hash agree to within
    // HLL's own ±1.04/√m error, which FrequencySpec pins. The top 60
    // bits of the 64-bit hash feed the SAME register/rank split, so
    // every downstream read (merge, estimateMilli, wire format) is
    // hash-agnostic.
    fastHash: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]]
  with UnaryLike[Expression] {

  override def prettyName: String =
    if (fastHash) "hll_registers_fast" else "hll_registers"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Array[Int] = {
    require(p >= 4 && p <= 16, s"$prettyName: need 4 <= p <= 16, got $p")
    new Array[Int](1 << p)
  }

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      // Hash the UTF8String's bytes directly: getBytes IS the UTF-8
      // encoding, so md5 over it is byte-identical to the former
      // .toString round-trip — but skips a String + a re-encoded byte[]
      // allocation per input row on the per-token hot path (q172/q181
      // and the streaming sketch). The fast path hashes the UTF8String's
      // backing bytes in place — zero copies.
      val s = v.asInstanceOf[UTF8String]
      val hv =
        if (fastHash)
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L) >>> 4
        else HyperLogLog.hash60(s.getBytes)
      val idx = (hv >>> (60 - p)).toInt
      val r = HyperLogLog.rank(hv, p)
      if (r > buf(idx)) buf(idx) = r
    }
    buf
  }

  override def merge(buf: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < buf.length) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Int]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length + 4)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    // Ranks are <= 61 - p < 128: one byte each on the shuffle wire.
    while (i < buf.length) { out.writeByte(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Int](n)
    var i = 0
    while (i < n) { buf(i) = in.readByte().toInt; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HyperLogLog =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HyperLogLog =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HyperLogLog =
    copy(child = newChild)
}

object HyperLogLog {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit key hash: first 15 hex digits of md5(key), i.e. the top
    * 60 bits of the digest read big-endian — the [[CountMin.bucket]]
    * assembly without the row prefix (one hash per key; p index bits and
    * the rank bits both come out of it, the standard HLL split).
    */
  def hash60(key: String): Long =
    hash60(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Byte-level form — the aggregate's hot path hands `UTF8String.getBytes`
    * straight in (already UTF-8; md5-identical to encoding a String).
    */
  def hash60(keyUtf8: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(keyUtf8)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Rank of the low 60−p bits w: 1 + leading zeros WITHIN the field —
    * field-top bit set → 1; w = 0 → 61−p (all-zero sentinel, one past
    * the last real position).
    */
  def rank(hv: Long, p: Int): Int = {
    val field = 60 - p
    val w = hv & ((1L << field) - 1)
    if (w == 0L) field + 1
    else field - (63 - java.lang.Long.numberOfLeadingZeros(w))
  }

  /** Column form: `hll_registers(key, p)` → array<int> of 2^p register
    * maxima.
    */
  def hll_registers(key: Column, p: Int): Column =
    ColumnBridge.column(
      HyperLogLog(ColumnBridge.expression(key), p).toAggregateExpression())

  /** Production variant: xxhash64 registers (seed 42) — ~10× cheaper per
    * key than md5 but NOT externally replayable; never used in a
    * declared oracle query (see the `fastHash` field doc).
    */
  def hll_registers_fast(key: Column, p: Int): Column =
    ColumnBridge.column(
      HyperLogLog(ColumnBridge.expression(key), p, fastHash = true)
        .toAggregateExpression())

  /** Flajolet's α_m constant in ppm (0.673/0.697/0.709 for m = 16/32/64;
    * 0.7213/(1 + 1.079/m) above) — pinned integer so estimates replay.
    */
  def alphaPpm(m: Int): Long = m match {
    case 16 => 673000L
    case 32 => 697000L
    case 64 => 709000L
    case _ => math.round(0.7213 / (1.0 + 1.079 / m) * 1e6)
  }

  /** The raw HLL estimate in milli-units from a register vector — the
    * exact-integer form [[graft.operators.Frequency.hllCardinalityAudit]]
    * puts under the oracle hash (denominator as the INTEGER Σ 2^(E−M_j),
    * one BigInt floor division), usable driver-side on a merged vector
    * (e.g. the streaming cumulative sketch).
    */
  def estimateMilli(regs: Seq[Int], p: Int): Long = {
    val m = 1 << p
    require(regs.length == m, s"estimateMilli: need $m registers, got ${regs.length}")
    val e = 61 - p
    val s = regs.foldLeft(BigInt(0))((acc, r) => acc + (BigInt(1) << (e - r)))
    ((BigInt(alphaPpm(m)) * m * m * (BigInt(1) << e) * 1000) /
      (s * 1000000)).toLong
  }

  /** Element-wise register merge (the HLL union): max per position. */
  def mergeRegisters(a: Seq[Int], b: Seq[Int]): Seq[Int] = {
    require(a.length == b.length, "mergeRegisters: length mismatch")
    a.lazyZip(b).map(math.max)
  }
}
