package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Consistent-hash ring successor lookup as a native codegen'd Catalyst
  * expression: given a sorted ring of (position, shard) points, return the
  * shard of the smallest position >= h, wrapping to the first point — the
  * O(log |ring|) binary search a production router runs (Karger et al.
  * 1997), inlined into whole-stage codegen.
  *
  * Why an expression and not column algebra: the previous formulation —
  * `coalesce(array_min(filter(litPositions, p => p >= h)), lit(minPos))`
  * plus `element_at(litShards, array_position(...))` — is three O(|ring|)
  * passes per lookup through interpreted higher-order functions (Spark's
  * HOFs never enter codegen), and q186 runs two lookups per row over 128-
  * and 144-point rings, q187 three. Measured at sf0.1 that made q186 the
  * whole suite's most expensive query (6-7s); the binary search does ~8
  * long compares per lookup inside the generated loop instead (~0.5s).
  *
  * Tiebreak on duplicate positions (impossible for distinct md5-derived
  * points, but pinned anyway): the FIRST point in sorted order wins, which
  * after a stable position-sort of shard-ascending input is the lowest
  * shard id — bit-identical to the old array_position-first-match rule and
  * to the (clockwise-distance, shard) lexicographic argmin PropertySpec
  * checks against the definition.
  */
case class RingSuccessor(child: Expression, positions: Seq[Long],
    shards: Seq[Long]) extends UnaryExpression {
  require(positions.nonEmpty && positions.length == shards.length,
    "RingSuccessor: positions and shards must be non-empty and aligned")
  require(positions.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)),
    "RingSuccessor: positions must be sorted ascending")

  override def prettyName: String = "ring_successor"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key hash, got ${child.dataType.simpleString}")

  @transient private lazy val posArr: Array[Long] = positions.toArray
  @transient private lazy val shardArr: Array[Long] = shards.toArray

  override protected def nullSafeEval(h: Any): Any =
    RingSuccessor.lookup(h.asInstanceOf[Long], posArr, shardArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pos = ctx.addReferenceObj("ringPositions", posArr, "long[]")
    val sh = ctx.addReferenceObj("ringShards", shardArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RingSuccessor.lookup($c, $pos, $sh)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RingSuccessor {

  /** Static entry point shared by interpreted eval and generated code:
    * index of the first position >= h (insertion point of the binary
    * search, walked left over equal positions to keep the first-match
    * tiebreak), wrapping past the end to point 0.
    */
  def lookup(h: Long, positions: Array[Long], shards: Array[Long]): Long = {
    var idx = java.util.Arrays.binarySearch(positions, h)
    if (idx < 0) idx = -(idx + 1)
    else while (idx > 0 && positions(idx - 1) == h) idx -= 1
    if (idx == positions.length) idx = 0
    shards(idx)
  }

  /** Column API: `ring` as (position, shardId) points in any order. */
  def ring_successor(h: Column, ring: Seq[(Long, Int)]): Column = {
    val sorted = ring.sortBy(_._1)
    ColumnBridge.column(RingSuccessor(ColumnBridge.expression(h),
      sorted.map(_._1), sorted.map(_._2.toLong)))
  }
}
