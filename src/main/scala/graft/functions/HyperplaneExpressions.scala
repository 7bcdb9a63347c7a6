package graft.functions

import graft.pipeline.HashFamily
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused multi-table hyperplane LSH signatures — value-identical to the
  * per-bit Catalyst composition in `Similarity.bandSignature` evaluated
  * for tables t in [0, nTables):
  *
  *   bit j of sig_t = (Σ_i vec[i]·comp(t·1024 + j, i)) > 0
  *   comp(p, i)     = family.planeComponent(p, i)
  *                    (xx64: xxhash64(p, i) / Long.MaxValue;
  *                     Md5: h1(md5(p + ":" + i)) / 2^47 − 1)
  *
  * as ONE loop per row. The composition runs nBits interpreted
  * zip_with+aggregate chains PER TABLE per row and recomputes every
  * plane-component hash per row (for Md5, an MD5 digest per
  * (plane, dim) per ROW); the kernel caches the (plane, dim) components
  * — pure constants, seeded hashes of the indices, bounded by
  * nTables·nBits·dims doubles — and folds the nTables·nBits dot
  * products in registers with the composition's exact left-fold order.
  * Null semantics mirrored exactly: the composition's
  * `when(d > 0, …).otherwise(0)` per bit maps a null vector or any null
  * element to an ALL-ZERO signature (not null), so the kernel does too
  * and the expression is non-nullable. HyperplaneSpec pins fused ≡
  * composed for both families; the ann02/ann05/dd06 oracles pin the
  * Md5 values cross-engine.
  *
  * Output: `array<bigint>` of nTables signatures (posexplode in
  * `Similarity.lshTopK` turns it into the (t, bucket) rows the bucket
  * join consumes; `cosineNearDups` indexes it per band).
  */
case class HyperplaneSigs(child: Expression, nBits: Int, nTables: Int, family: HashFamily)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if nBits >= 1 && nBits <= 63 && nTables >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires 1 <= nBits <= 63 and nTables >= 1, got ($nBits, $nTables)")
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE> input, got ${t.catalogString}")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    HyperplaneOps.sigs(v.asInstanceOf[ArrayData], nBits, nTables, family, isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val f = Families.ref(ctx, family)
    val resultCode =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.HyperplaneOps.sigs(
            ${childGen.isNull} ? null : ${childGen.value},
            $nBits, $nTables, $f, $isFloat);
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_sigs"
}

object HyperplaneOps {

  /** (plane, dim) → component cache of one family: pure constants
    * (seeded hashes of the INDICES, no data involved), bounded by
    * nTables·nBits·dims entries.
    */
  private final class Components(family: HashFamily)
      extends java.util.function.Function[java.lang.Long, java.lang.Double] {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Double]()
    override def apply(key: java.lang.Long): java.lang.Double =
      java.lang.Double.valueOf(family.planeComponent(
        (key.longValue() >> 24).toInt, (key.longValue() & 0xffffffL).toInt))
    def get(plane: Int, dim: Int): Double =
      cache.computeIfAbsent(
        java.lang.Long.valueOf((plane.toLong << 24) | dim.toLong), this).doubleValue()
  }

  private val byFamily =
    new java.util.concurrent.ConcurrentHashMap[HashFamily, Components]()

  /** static codegen target; see [[HyperplaneSigs]]. Null vector or any
    * null element → all-zero signatures (the composition's
    * when-otherwise null swallow).
    */
  def sigs(vec: ArrayData, nBits: Int, nTables: Int, family: HashFamily,
      isFloat: Boolean): ArrayData = {
    val out = new Array[Long](nTables)
    if (vec == null) return new GenericArrayData(out)
    val n = vec.numElements()
    var i = 0
    while (i < n) { if (vec.isNullAt(i)) return new GenericArrayData(out); i += 1 }
    val comps = byFamily.computeIfAbsent(family, new Components(_))
    val x = new Array[Double](n)
    i = 0
    while (i < n) {
      x(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var j = 0
      while (j < nBits) {
        val plane = t * 1024 + j
        var d = 0.0
        i = 0
        while (i < n) {
          d += x(i) * comps.get(plane, i)
          i += 1
        }
        if (d > 0) sig |= 1L << j
        j += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}
