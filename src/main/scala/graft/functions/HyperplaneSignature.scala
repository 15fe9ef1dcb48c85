package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd random-hyperplane signature over array<double>: bit p
  * is the sign of the projection onto a pseudo-random plane whose
  * components derive from SplitMix64 of (seed, p, dim) — deterministic,
  * stateless, identical on every executor. Replaces an interpreted
  * nBits×dims higher-order fold per vector (CodegenFallback) with one
  * primitive loop.
  */
case class HyperplaneSignature(child: Expression, nBits: Int, seed: Int)
    extends UnaryExpression {

  override def prettyName: String = "hyperplane_signature"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = v.numElements()
    // Null elements poison every projection (the fold form yielded a null
    // proj → bit 0 on all planes): emit the all-zero signature rather than
    // silently reading the null slot as 0.0.
    var i0 = 0
    while (i0 < dims) {
      if (v.isNullAt(i0)) return new GenericArrayData(new Array[Int](nBits))
      i0 += 1
    }
    val sig = new Array[Int](nBits)
    var p = 0
    while (p < nBits) {
      var proj = 0.0
      var i = 0
      while (i < dims) {
        proj += v.getDouble(i) * HyperplaneSignature.plane(seed, p, i)
        i += 1
      }
      sig(p) = if (proj > 0) 1 else 0
      p += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val hp = HyperplaneSignature.getClass.getName.stripSuffix("$") + "$.MODULE$"
      val dims = ctx.freshName("dims")
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val i0 = ctx.freshName("i0")
      val proj = ctx.freshName("proj")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |int $dims = $input.numElements();
         |int[] $sig = new int[$nBits];
         |boolean $hasNull = false;
         |for (int $i0 = 0; $i0 < $dims; $i0++) {
         |  if ($input.isNullAt($i0)) { $hasNull = true; break; }
         |}
         |if (!$hasNull) {
         |  for (int $p = 0; $p < $nBits; $p++) {
         |    double $proj = 0.0;
         |    for (int $i = 0; $i < $dims; $i++) {
         |      $proj += $input.getDouble($i) * $hp.plane($seed, $p, $i);
         |    }
         |    $sig[$p] = ($proj > 0) ? 1 : 0;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignature {

  /** Deterministic plane component in [-0.5, 0.5): SplitMix64 finalizer of
    * the packed (seed, p, dim) index. Shared by eval and codegen.
    */
  def plane(seed: Int, p: Int, dim: Int): Double = {
    var z = seed.toLong * 0x9E3779B97F4A7C15L + p.toLong * 0xBF58476D1CE4E5B9L +
      dim.toLong * 0x94D049BB133111EBL + 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z >>> 11).toDouble / (1L << 53).toDouble) - 0.5
  }

  def hyperplane_signature(v: Column, nBits: Int, seed: Int): Column =
    ColumnBridge.column(HyperplaneSignature(ColumnBridge.expression(v), nBits, seed))
}
