package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codegen kernels for the SQ8 scalar quantizer — FAISS's other
  * production vector-compression layout (`ScalarQuantizer`, QT_8bit):
  * one 8-bit code PER DIMENSION against trained per-dimension
  * [min, max] bounds, 1 byte/dim (vs PQ's 1 byte per SUBSPACE).
  * SQ trades PQ's higher compression for per-dimension fidelity and
  * a trivially simple trainer (a min/max scan — no k-means), which
  * is why production systems reach for it when PQ recall is not
  * enough and memory allows dim bytes/vector.
  *
  * Semantics are FROZEN by the DuckDB oracle (SURVEY §5 parity
  * rules): everything is exact integer arithmetic on the 1e-8
  * fixed-point NORMALIZED units ([[NormalizeUnitsI64]]):
  *
  *   - encode:  c_d = ((u_d − vmin_d) · 255) / span_d   (span_d = 0 → 0)
  *   - decode:  û_d = vmin_d + (c_d · span_d) / 255
  *   - ADC:     Σ_d (q_d − û_d)²
  *
  * Both divisions are Java long division over NON-NEGATIVE operands
  * (u_d ≥ vmin_d by construction of the bounds; c_d, span_d ≥ 0), so
  * truncation ≡ floor ≡ DuckDB's `//` — no float division anywhere
  * (a double quotient's half-ulp error can cross an integer boundary
  * and flip a floor; integer division cannot). Overflow bounds:
  * |u| ≤ 1e8 (normalized units), so (u−vmin)·255 ≤ 5.1e10, decode
  * stays inside [vmin, vmax] ⊆ [−1e8, 1e8], and the ADC sum is at
  * most 64 · (2e8)² ≈ 2.6e18 < 2⁶³ — addExact/multiplyExact are the
  * loud guards, same policy as [[L2UnitsI64]].
  *
  * The [0, 255] clamp in encode never binds for the training corpus
  * (u ∈ [vmin, vmax] ⇒ c ∈ [0, 255] exactly); it guards encoding of
  * OUT-OF-DOMAIN vectors (e.g. a future frozen-model append), and the
  * oracle never replays that path.
  */
case class SqEncodeI64(child: Expression, mins: Array[Long], spans: Array[Long])
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sq_encode"
  override def nullSafeEval(a: Any): Any = SqEncodeI64.encode(a.asInstanceOf[ArrayData], mins, spans)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val minsRef = ctx.addReferenceObj("sqMins", mins, "long[]")
    val spansRef = ctx.addReferenceObj("sqSpans", spans, "long[]")
    defineCodeGen(ctx, ev, u => IntegerUnits.call(SqEncodeI64, "encode", u, minsRef, spansRef))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SqEncodeI64 {
  /** [[SqEncodeI64]]'s body: [[ScalarQuant.encode1]] per dimension. */
  def encode(a: ArrayData, mins: Array[Long], spans: Array[Long]): ArrayData = {
    val u = IntegerUnits.longs(a, "sq_encode")
    val out = new Array[Int](IntegerUnits.requireSameLength(u.length, mins.length, "sq_encode"))
    var i = 0
    while (i < out.length) { out(i) = ScalarQuant.encode1(u(i), mins(i), spans(i)); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** Asymmetric SQ distance, fused: Σ_d (q_d − decode_d(c_d))² over the
  * query's exact units and the corpus row's 8-bit codes — the SQ
  * analogue of PQ's ADC lookup, one loop per (query, vector) pair
  * with the decode inlined (the codes table stays 1 byte/dim on
  * disk; nothing decoded is ever materialized).
  */
case class SqAdcL2I64(left: Expression, right: Expression,
                      mins: Array[Long], spans: Array[Long])
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sq_adc_l2"
  override def nullSafeEval(a: Any, b: Any): Any =
    SqAdcL2I64.adcL2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], mins, spans)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val minsRef = ctx.addReferenceObj("sqMins", mins, "long[]")
    val spansRef = ctx.addReferenceObj("sqSpans", spans, "long[]")
    defineCodeGen(ctx, ev, (q, c) => IntegerUnits.call(SqAdcL2I64, "adcL2", q, c, minsRef, spansRef))
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqAdcL2I64 {
  /** [[SqAdcL2I64]]'s body: Σ (q − [[ScalarQuant.decode1]](c))². */
  def adcL2(qa: ArrayData, ca: ArrayData, mins: Array[Long], spans: Array[Long]): Long = {
    val q = IntegerUnits.longs(qa, "sq_adc_l2")
    val c = IntegerUnits.ints(ca, "sq_adc_l2")
    val n = IntegerUnits.requireSameLength(q.length, c.length, "sq_adc_l2")
    IntegerUnits.requireSameLength(n, mins.length, "sq_adc_l2")
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = q(i) - ScalarQuant.decode1(c(i), mins(i), spans(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }
}

object ScalarQuant {

  /** Scalar encode of one dimension — the kernels' per-element step,
    * which the spec also replays driver-side.
    */
  def encode1(u: Long, vmin: Long, span: Long): Int = {
    val c = if (span == 0L) 0L else Math.multiplyExact(u - vmin, 255L) / span
    Math.min(255L, Math.max(0L, c)).toInt
  }

  /** Scalar decode of one dimension (1e-8 units). */
  def decode1(c: Int, vmin: Long, span: Long): Long =
    vmin + Math.multiplyExact(c.toLong, span) / 255L

  /** Column API for the per-dimension 8-bit encoder. */
  def sqEncode(un: Column, mins: Array[Long], spans: Array[Long]): Column =
    ColumnBridge.column(SqEncodeI64(ColumnBridge.expression(un), mins, spans))

  /** Column API for the fused asymmetric SQ distance. */
  def sqAdcL2(qun: Column, codes: Column, mins: Array[Long], spans: Array[Long]): Column =
    ColumnBridge.column(SqAdcL2I64(
      ColumnBridge.expression(qun), ColumnBridge.expression(codes), mins, spans))
}
