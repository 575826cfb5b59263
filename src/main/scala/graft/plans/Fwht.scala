package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Structured orthogonal rotation for OPQ ([[graft.operators.Similarity.annOpq]]):
  * `y = H · D · x` where D = diag(±1) (the md5-seeded sign flip) and
  * H is the UNNORMALIZED Sylvester-Hadamard matrix,
  * `H[i][j] = (−1)^popcount(i AND j)` — the classic randomized
  * Hadamard transform (Ailon & Chazelle's FJLT preconditioner; the
  * standard random-rotation baseline of OPQ, Ge et al. 2013 §4).
  *
  * Everything stays EXACT INTEGER: entries are ±1 and the transform
  * is computed as the in-place fast Walsh–Hadamard butterfly
  * (log₂ d passes of adds/subtracts), so integer units in → integer
  * units out, bit-replayable in SQL as
  * `Σ_j (CASE WHEN bit_count(i & j) % 2 = 0 THEN 1 ELSE -1 END) * s_j * x_j`.
  * H is NOT normalized by 1/√d: every squared L2 distance in the
  * rotated space scales by exactly d (orthogonality:
  * ‖Hx‖² = d·‖x‖²), which cancels in every argmin/rank the PQ
  * pipeline runs — and dividing would leave integer space.
  *
  * Range: for 1e-8-unit inputs with ‖x‖ ≤ 1e8 (normalized vectors),
  * |y_i| ≤ ‖y‖ = √d·‖x‖ = 8e8 at d = 64 — squared-distance sums stay
  * ≤ (2·8e8)² ≈ 2.6e18, inside Long; the butterfly carries
  * addExact/subtractExact as the loud overflow guard like every
  * kernel in [[IntegerUnits]].
  */
case class FwhtSignsI64(child: Expression, signs: Seq[Long])
  extends UnaryExpression with ExpectsInputTypes {

  require(signs.nonEmpty && (signs.length & (signs.length - 1)) == 0,
    s"fwht_signs needs a power-of-two dimension, got ${signs.length}")
  require(signs.forall(s => s == 1L || s == -1L), "fwht_signs signs must be ±1")

  @transient private lazy val signsArr: Array[Long] = signs.toArray

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "fwht_signs"
  override def nullSafeEval(a: Any): Any = FwhtSignsI64.rotate(a.asInstanceOf[ArrayData], signsArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("fwhtSigns", signsArr, "long[]")
    defineCodeGen(ctx, ev, a => IntegerUnits.call(FwhtSignsI64, "rotate", a, signsRef))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FwhtSignsI64 {

  /** [[FwhtSignsI64]]'s body: the sign flip, then [[fwhtInPlace]]. */
  def rotate(a: ArrayData, signs: Array[Long]): ArrayData = {
    val out = IntegerUnits.longs(a, "fwht_signs")
    IntegerUnits.requireSameLength(out.length, signs.length, "fwht_signs")
    var i = 0
    while (i < out.length) { out(i) = signs(i) * out(i); i += 1 }
    fwhtInPlace(out)
    ArrayData.toArrayData(out)
  }

  /** In-place unnormalized FWHT (Sylvester order): after the
    * butterfly, `out[i] = Σ_j (−1)^popcount(i & j) · in[j]`.
    */
  private[plans] def fwhtInPlace(out: Array[Long]): Unit = {
    var h = 1
    while (h < out.length) {
      var p = 0
      while (p < out.length) {
        var q = p
        while (q < p + h) {
          val a = out(q); val b = out(q + h)
          out(q) = Math.addExact(a, b)
          out(q + h) = Math.subtractExact(a, b)
          q += 1
        }
        p += (h << 1)
      }
      h <<= 1
    }
  }

  def fwhtSigns(e: Column, signs: Seq[Long]): Column =
    ColumnBridge.column(FwhtSignsI64(ColumnBridge.expression(e), signs))
}
