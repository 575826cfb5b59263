package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Codegen kernels for BINARY quantization (`ann_bq`): 1 bit per
  * embedding component (the sign), 32 sign bits packed per Long word,
  * candidates ranked by Hamming distance (popcount of XOR).
  *
  * Why 32 bits per word and not 64: the DuckDB oracle re-derives the
  * same packed words with `CASE WHEN e >= 0 THEN 1 << i ...` summed
  * in BIGINT — at 32 bits per word every partial sum stays strictly
  * below 2^32, so the oracle never shifts into (or sums across) the
  * sign bit, and word equality between engines is a plain integer
  * equality with no two's-complement edge cases. The Hamming sum is
  * identical either way (popcount is word-splittable).
  *
  * Semantics frozen by the oracle: bit i of word w is set iff
  * `embedding[32w + i] >= 0` — a raw float comparison, no rounding
  * step, so the signature is trivially engine-portable. Negative
  * zero compares `>= 0` true on both engines. NaN is NOT symmetric
  * at the raw-comparison level — Java's `Float.NaN >= 0f` is false
  * (bit 0) while DuckDB's comparison places NaN above all values
  * (bit 1) — so the DuckDB oracles (annBqOracle/annIvfBqOracle)
  * carry an explicit `isnan → 0` branch matching this kernel's
  * IEEE behavior.
  */

/** `array<float>` → `array<long>`: pack component sign bits, 32 per
  * word, little-endian within the word (component 32w+i → bit i of
  * word w). The last word of a non-multiple-of-32 embedding leaves
  * its high bits zero on both engines (they contribute 0 to every
  * XOR). One kernel call per row — the whole encode is a single
  * map pass at scan speed.
  */
case class SignPack32I64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_pack32"
  override def nullSafeEval(a: Any): Any = SignPack32I64.pack(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => IntegerUnits.call(SignPack32I64, "pack", a))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignPack32I64 {
  /** [[SignPack32I64]]'s body. */
  def pack(a: ArrayData): ArrayData = {
    val x = IntegerUnits.floats(a, "sign_pack32")
    val out = new Array[Long]((x.length + 31) / 32)
    var i = 0
    while (i < x.length) { if (x(i) >= 0f) out(i / 32) |= (1L << (i % 32)); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** Hamming distance of two packed sign signatures: Σ popcount(a⊕b)
  * over the word arrays. Mismatched lengths throw loudly (same policy
  * as [[L2UnitsI64]] — a malformed signature must not return a
  * plausible wrong distance). Bounded by the total bit count, so the
  * Long sum can never overflow.
  */
case class HammingPackedI64(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_packed"
  override def nullSafeEval(a: Any, b: Any): Any =
    HammingPackedI64.hamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => IntegerUnits.call(HammingPackedI64, "hamming", a, b))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HammingPackedI64 {
  /** [[HammingPackedI64]]'s body. */
  def hamming(a: ArrayData, b: ArrayData): Long = {
    val x = IntegerUnits.longs(a, "hamming_packed")
    val y = IntegerUnits.longs(b, "hamming_packed")
    val n = IntegerUnits.requireSameLength(x.length, y.length, "hamming_packed")
    var acc = 0L
    var i = 0
    while (i < n) { acc += java.lang.Long.bitCount(x(i) ^ y(i)); i += 1 }
    acc
  }
}

/** `array<long>` → `array<long>`: [[SignPack32I64]] on the INTEGER-
  * UNITS domain (bit i of word w set iff `units[32w + i] >= 0`) — the
  * residual-BQ layout packs sign bits of quantized units and of
  * integer residuals, so the packing must live where those values do
  * (no float comparison, no NaN case: units are exact Longs shared
  * with the DuckDB oracle).
  */
case class SignPackUnits32I64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_pack_units32"
  override def nullSafeEval(a: Any): Any = SignPackUnits32I64.pack(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => IntegerUnits.call(SignPackUnits32I64, "pack", a))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignPackUnits32I64 {
  /** [[SignPackUnits32I64]]'s body. */
  def pack(a: ArrayData): ArrayData = {
    val x = IntegerUnits.longs(a, "sign_pack_units32")
    val out = new Array[Long]((x.length + 31) / 32)
    var i = 0
    while (i < x.length) { if (x(i) >= 0L) out(i / 32) |= (1L << (i % 32)); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** Asymmetric signed dot of a full-precision integer-units query
  * against a packed sign signature: Σᵢ (bitᵢ ? qᵢ : −qᵢ) — the
  * residual-BQ scorer's inner sum (the query is NOT quantized; only
  * the corpus side is bits — the "asymmetric distance" binary-code
  * refinement of Gordo et al. 2011/Jégou et al.). Signature word
  * count must be exactly ceil(n/32) (loud mismatch, [[HammingPackedI64]]'s
  * policy). Overflow-free by the engine-wide embedding bound
  * (|e| < 0.6 → |q| < 6e7 units; 64 dims → |Σ| < 3.9e9).
  */
case class SignDotPackedI64(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_dot_packed"
  override def nullSafeEval(a: Any, b: Any): Any =
    SignDotPackedI64.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, sig) => IntegerUnits.call(SignDotPackedI64, "dot", q, sig))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SignDotPackedI64 {
  /** [[SignDotPackedI64]]'s body. */
  def dot(qa: ArrayData, sa: ArrayData): Long = {
    val q = IntegerUnits.longs(qa, "sign_dot_packed")
    val sig = IntegerUnits.longs(sa, "sign_dot_packed")
    if (sig.length != (q.length + 31) / 32)
      throw new IllegalArgumentException(
        s"sign_dot_packed: signature has ${sig.length} words for ${q.length} dims, expected ${(q.length + 31) / 32}")
    var acc = 0L
    var i = 0
    while (i < q.length) {
      acc += (if ((sig(i / 32) & (1L << (i % 32))) != 0L) q(i) else -q(i))
      i += 1
    }
    acc
  }
}

object BinarySig {
  /** Column API for the sign-bit packer. */
  def signPack(e: Column): Column =
    ColumnBridge.column(SignPack32I64(ColumnBridge.expression(e)))

  /** Column API for the packed Hamming distance. */
  def hammingPacked(a: Column, b: Column): Column =
    ColumnBridge.column(HammingPackedI64(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the integer-units sign-bit packer. */
  def signPackUnits(u: Column): Column =
    ColumnBridge.column(SignPackUnits32I64(ColumnBridge.expression(u)))

  /** Column API for the asymmetric signed dot. */
  def signDotPacked(q: Column, sig: Column): Column =
    ColumnBridge.column(SignDotPackedI64(ColumnBridge.expression(q), ColumnBridge.expression(sig)))
}
