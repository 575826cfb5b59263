package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression: all LSH band signatures of an
  * `array<float>` vector against a fixed set of hyperplanes, in ONE
  * pass — replaces `bands × rowsPerBand` separate higher-order
  * `aggregate(zip_with(...))` dot products (each a per-element lambda
  * dispatch) with a single integer loop ([[BandSignatures.sigs]]).
  *
  * Arithmetic is EXACT fixed-point, not floating: vector components
  * and plane weights are scaled by 1e4 and rounded HALF_UP to longs,
  * and each dot product is an exact 64-bit integer sum (|scaled x| ≤
  * 1e5, |w| ≤ 5e4, dim 64 → max |Σ| ≈ 3e11, far under 2^63). A sign
  * decision on an exact integer cannot vary with fold order or engine
  * — which is what makes the ann_lsh DuckDB oracle possible: the SQL
  * mirror reproduces the same integers and therefore the same
  * signatures bit-for-bit. (A double fold would be at the mercy of
  * each engine's summation order at near-zero dots.)
  *
  * Scaling parity: `x*1e4` is exact in a double (24-bit float
  * mantissa + 14 bits < 53), and the sign-split `Math.round` is
  * HALF_UP away from zero — identical to the oracle's
  * `CAST(round(x*10000, 0) AS BIGINT)`.
  *
  * Output: `array<long>` of length `planes.length / rowsPerBand`;
  * bit r of element b is the sign of plane (b*rowsPerBand + r)'s dot.
  * A vector whose length is not the planes' dimension throws: a dot
  * over the shorter prefix would give a plausible wrong signature.
  */
case class BandSignatures(child: Expression, planes: Seq[Seq[Long]], rowsPerBand: Int)
  extends UnaryExpression with ExpectsInputTypes {

  // Seq field (not Array) so case-class equals/hashCode compare plane
  // CONTENTS — Array fields fall back to reference identity, which
  // breaks plan canonicalization / subexpression elimination for two
  // semantically identical instances. The body runs on primitive
  // arrays, converted once here.
  @transient private lazy val planesArr: Array[Array[Long]] =
    planes.map(_.toArray).toArray

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_sigs"
  override def nullSafeEval(v: Any): Any =
    BandSignatures.sigs(v.asInstanceOf[ArrayData], planesArr, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planesArr, "long[][]")
    defineCodeGen(ctx, ev, v => IntegerUnits.call(BandSignatures, "sigs", v, planesRef, rowsPerBand))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BandSignatures {
  /** [[BandSignatures]]'s body. */
  def sigs(v: ArrayData, planes: Array[Array[Long]], rowsPerBand: Int): ArrayData = {
    val x = IntegerUnits.floats(v, "band_sigs")
    val n = x.length
    val scaled = new Array[Long](n)
    var i = 0
    while (i < n) {
      val d = x(i).toDouble * 10000.0
      scaled(i) = if (d >= 0) math.round(d) else -math.round(-d)
      i += 1
    }
    val out = new Array[Long](planes.length / rowsPerBand)
    var b = 0
    while (b < out.length) {
      var sig = 0L
      var r = 0
      while (r < rowsPerBand) {
        val w = planes(b * rowsPerBand + r)
        IntegerUnits.requireSameLength(n, w.length, "band_sigs")
        var dot = 0L
        var j = 0
        while (j < n) { dot += scaled(j) * w(j); j += 1 }
        if (dot >= 0L) sig |= (1L << r)
        r += 1
      }
      out(b) = sig
      b += 1
    }
    ArrayData.toArrayData(out)
  }
}
