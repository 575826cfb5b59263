package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, FloatType, LongType}

/** Codegen kernels for the exact 1e-8 fixed-point ("integer units")
  * embedding arithmetic used by the k-means family
  * ([[graft.operators.Similarity]]).
  *
  * The semantics are FROZEN by the DuckDB oracles: a component
  * quantizes as `cast(round(cast(e as double) * 1e8, 0) as long)` —
  * Spark's `round` is decimal HALF_UP via `BigDecimal.valueOf`. The
  * kernels reproduce that without BigDecimal: for `v = e * 1e8` with
  * `|v| < 2^52`, truncate-then-compare-the-exact-fraction is the same
  * half-up (away from zero) result. Why the shortcut is exact:
  * `t = (long) v` and `f = v - t` are both exact doubles in this
  * range, so `f` compares against 0.5 with no error; and Spark's
  * `BigDecimal.valueOf` (shortest decimal repr) can only disagree
  * with the exact binary value about an `n.5` boundary if the two
  * were more than half an ulp apart — impossible for a shortest
  * repr. Embedding bound |e| < 0.6 gives |v| < 6e7, far inside 2^52.
  *
  * The fold these kernels replace (`aggregate(zip_with(...))` over a
  * per-element `round`) evaluated one BigDecimal round per component
  * PER CENTROID and dispatched two lambdas per element outside
  * whole-stage codegen — the round-7 ann_kmeans 5.6× regression.
  *
  * The exact-decimal kernels ([[NormalizeUnitsI64]], [[DecDotF32]])
  * round the DECIMAL form of each component instead (`dec8`, see
  * [[NormalizeUnitsI64.dec8Unscaled]]). The argument above does not
  * carry over to them, so `dec8` keeps a guard band around every
  * half-way point and hands those components to `BigDecimal`.
  *
  * Every kernel in this package states its arithmetic once, as a
  * method on its companion object taking and returning `ArrayData`
  * or primitives. `nullSafeEval` (the interpreted path) calls it, and
  * `doGenCode` emits one call to the same method ([[IntegerUnits.call]]),
  * so generated and interpreted evaluation cannot drift apart and the
  * kernel still runs inside its whole-stage codegen stage.
  */

/** `array<float>` → `array<long>`: quantize every component to 1e-8
  * units, once per row ([[QuantizeUnitsI64.quantizeAll]]). A null
  * element throws `IllegalArgumentException` naming it, rather than
  * quantizing as 0.
  */
case class QuantizeUnitsI64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_units"
  override def nullSafeEval(a: Any): Any = QuantizeUnitsI64.quantizeAll(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => IntegerUnits.call(QuantizeUnitsI64, "quantizeAll", a))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeUnitsI64 {
  /** 2^52 — above this |e·1e8| the truncate-compare shortcut stops
    * matching Spark's decimal round (and the +1 step could wrap), so
    * out-of-range input throws instead of silently diverging — the
    * same loud policy as the addExact guards below. NaN/±Inf fail the
    * `<` test and throw too.
    */
  private val ExactBound = 4.503599627370496e15

  /** Exact half-up (away from zero) of `e * 1e8` — see class doc for
    * why this equals Spark's `cast(round(double(e) * 1e8, 0) as long)`
    * in the |v| < 2^52 range (enforced loudly).
    */
  def quantize(e: Float): Long = {
    val v = e.toDouble * 1.0e8
    if (!(math.abs(v) < ExactBound))
      throw new ArithmeticException(
        s"quantize_units: |e*1e8| = $v not < 2^52; exact half-up shortcut would diverge")
    val t = v.toLong
    val f = v - t.toDouble
    if (v >= 0.0) { if (f >= 0.5) t + 1 else t }
    else { if (f <= -0.5) t - 1 else t }
  }

  /** [[QuantizeUnitsI64]]'s body. */
  def quantizeAll(a: ArrayData): ArrayData = {
    val x = IntegerUnits.floats(a, "quantize_units")
    val out = new Array[Long](x.length)
    var i = 0
    while (i < x.length) { out(i) = quantize(x(i)); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** Squared L2 distance of two `array<long>` unit vectors, accumulated
  * in overflow-checked Long arithmetic (`Math.multiplyExact` /
  * `addExact` — the same loud-failure guard the ANSI fold gave).
  * Bounds from the class doc: |u| < 6e7 → per-term < 1.5e16, 64-dim
  * sum < 1e18, inside Long. Mismatched lengths throw (the zip_with
  * fold this replaces null-padded to a loud NULL; silently truncating
  * to the shorter array would instead return a plausible wrong value
  * for a malformed embedding).
  */
case class L2UnitsI64(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "l2_units"
  override def nullSafeEval(a: Any, b: Any): Any =
    L2UnitsI64.l2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => IntegerUnits.call(L2UnitsI64, "l2", a, b))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2UnitsI64 {
  /** [[L2UnitsI64]]'s body: [[ArgminL2.dist]] over the whole arrays. */
  def l2(a: ArrayData, b: ArrayData): Long = {
    val x = IntegerUnits.longs(a, "l2_units")
    val y = IntegerUnits.longs(b, "l2_units")
    ArgminL2.dist(x, 0, y, 0, IntegerUnits.requireSameLength(x.length, y.length, "l2_units"))
  }
}

/** `array<float>` → `array<long>`: L2-normalize by the EXACT decimal
  * norm, then quantize to 1e-8 units — the PQ working-set projection,
  * one codegen kernel per row.
  *
  * Bit-equal to the Column-API chain it replaces
  * (`quantizeUnits(when(nrm > 0, transform(e, x → float(double(x)/nrm)))
  * .otherwise(e))` with `nrm = sqrt(double(decNorm2(e)))`), which at
  * ~5 ms/row of interpreted decimal-HOF work was the whole ann_pq
  * budget. Equality argument, step by step:
  *  - `dec8(x)` is `round(double(x), 8)` (Spark: `BigDecimal.valueOf`
  *    + `setScale(8, HALF_UP)`) cast losslessly to DECIMAL(14,8) —
  *    here [[NormalizeUnitsI64.dec8Unscaled]], which returns the
  *    unscaled long `n` of that same rounding directly (|x| < 1 →
  *    n < 1e8; the ≤15-significant-digit round-trip makes
  *    unscaled-of-double-of-n·1e-8 = n).
  *  - Σ dec8(x)² in DECIMAL(30,16) ≡ Σ n² · 1e-16 with Σ n² exact in
  *    Long (64 · (6e7)² < 2.4e17; addExact is the loud guard).
  *  - Decimal→double cast ≡ `BigDecimal.valueOf(Σn², 16).doubleValue()`
  *    (one correctly-rounded conversion — NOT two chained roundings).
  *  - sqrt / divide / float-narrow / 1e-8 half-up quantize are the
  *    same correctly-rounded IEEE scalar ops as [[QuantizeUnitsI64]].
  */
case class NormalizeUnitsI64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "normalize_units"
  override def nullSafeEval(a: Any): Any = NormalizeUnitsI64.normalize(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => IntegerUnits.call(NormalizeUnitsI64, "normalize", a))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeUnitsI64 {
  /** [[NormalizeUnitsI64]]'s body. */
  def normalize(a: ArrayData): ArrayData = {
    val x = IntegerUnits.floats(a, "normalize_units")
    var acc = 0L
    var i = 0
    while (i < x.length) {
      val n8 = dec8Unscaled(x(i))
      acc = Math.addExact(acc, Math.multiplyExact(n8, n8))
      i += 1
    }
    val nrm = math.sqrt(java.math.BigDecimal.valueOf(acc, 16).doubleValue())
    val out = new Array[Long](x.length)
    i = 0
    while (i < x.length) {
      out(i) = QuantizeUnitsI64.quantize(if (nrm > 0.0) (x(i).toDouble / nrm).toFloat else x(i))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** |x·1e8| bound of the [[dec8Unscaled]] fast path. */
  private val FastBound = 1.0e12

  /** Half-width of the band around a half-way point in which
    * [[dec8Unscaled]] defers to `BigDecimal`.
    */
  private val TieBand = 1.0e-3

  /** Unscaled long of `round(double(x), 8)` as DECIMAL(_, 8) — the
    * exact `dec8` digits (see class doc): the half-up (away from zero)
    * rounding of `D·1e8`, where `D` is the decimal `Double.toString`
    * gives for `d = double(x)`, since that is what `BigDecimal.valueOf`
    * reads. `D` is not the binary value of `d`, so the
    * [[QuantizeUnitsI64]] argument does not apply; the fast path rounds
    * `v = d·1e8` instead and keeps a guard band.
    *
    * Error bound. `D` parses back to `d`, so |D − d| ≤ ulp(d)/2, and the
    * product is one correctly rounded op, so |v − d·1e8| ≤ ulp(v)/2.
    * Below the bound |v| < 1e12 we have |d| < 1e4, ulp(d) ≤ 2^-39 and
    * ulp(v) ≤ 2^-13, so |v − D·1e8| ≤ 1e8·2^-40 + 2^-14 < 1.6e-4. Half-up
    * rounding is constant on each open interval (n − ½, n + ½); when the
    * exact fraction of v lies more than [[TieBand]] = 1e-3 from ½, v and
    * D·1e8 sit in the same interval and round to the same integer,
    * which is `t` or `t ± 1` from `t = trunc(v)`. Inside the band (every
    * exact decimal tie lands there), past the bound, or for NaN/±Inf,
    * the `BigDecimal` reference runs, so those inputs round or throw
    * exactly as it does.
    */
  def dec8Unscaled(x: Float): Long = {
    val v = x.toDouble * 1.0e8
    if (math.abs(v) < FastBound) {
      val t = v.toLong
      val f = v - t.toDouble
      val a = math.abs(f)
      if (a < 0.5 - TieBand) t
      else if (a > 0.5 + TieBand) { if (f > 0.0) t + 1 else t - 1 }
      else dec8Reference(x)
    } else dec8Reference(x)
  }

  /** `dec8` through `BigDecimal` — Spark's own `round(double(x), 8)`;
    * the fallback of [[dec8Unscaled]] and its spec reference.
    */
  private[graft] def dec8Reference(x: Float): Long =
    java.math.BigDecimal.valueOf(x.toDouble)
      .setScale(8, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}

/** Exact decimal dot product of two `array<float>` columns as a
  * single codegen pass — bit-equal to
  * [[graft.functions.VectorFunctions.decDot]]'s HOF fold
  * (`Σ dec8(aᵢ)·dec8(bᵢ)` accumulated in DECIMAL(30,16)), via the
  * same unscaled-long argument as [[NormalizeUnitsI64]]: each dec8
  * is an integer n·1e-8 with |n| < 1e8 (Spark's own `round`, computed
  * by [[NormalizeUnitsI64.dec8Unscaled]] without `BigDecimal` outside
  * its guard band), the product grid sums exactly in Long
  * (64·(6e7)² < 2.4e17, addExact as the loud guard), and the result
  * is the scale-16 decimal of the sum. The interpreted fold ran at ~15 µs/row and was re-evaluated
  * by WindowGroupLimit prepasses in every exact re-rank — the
  * dominant cost of ann_lsh's ranking stage. Mismatched lengths
  * throw, like [[L2UnitsI64]].
  */
case class DecDotF32(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DecimalType(30, 16)
  override def prettyName: String = "dec_dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    DecDotF32.decDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => IntegerUnits.call(DecDotF32, "decDot", a, b))
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DecDotF32 {
  /** [[DecDotF32]]'s body. */
  def decDot(a: ArrayData, b: ArrayData): Decimal = {
    val x = IntegerUnits.floats(a, "dec_dot")
    val y = IntegerUnits.floats(b, "dec_dot")
    val n = IntegerUnits.requireSameLength(x.length, y.length, "dec_dot")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(
        NormalizeUnitsI64.dec8Unscaled(x(i)), NormalizeUnitsI64.dec8Unscaled(y(i))))
      i += 1
    }
    Decimal(java.math.BigDecimal.valueOf(acc, 16), 30, 16)
  }
}

object IntegerUnits {
  /** Loud equal-length check for the binary kernels — the zip_with
    * folds they replace null-padded mismatched arrays to a visible
    * NULL; truncating would yield a plausible wrong value instead.
    */
  def requireSameLength(a: Int, b: Int, op: String): Int = {
    if (a != b)
      throw new IllegalArgumentException(s"$op: array lengths differ ($a vs $b)")
    a
  }

  /** The elements of `a` as a `long[]`, read once per row: a kernel
    * body loops over a primitive array whatever `ArrayData` class the
    * row holds (unsafe, columnar or generic), so its inner loops keep
    * one JIT profile across every call site. A null element throws
    * [[nullElement]] instead of reading as 0; an input type that
    * admits no nulls never trips it.
    */
  def longs(a: ArrayData, op: String): Array[Long] = { requireNoNulls(a, op); a.toLongArray() }

  /** [[longs]] for `array<int>`. */
  def ints(a: ArrayData, op: String): Array[Int] = { requireNoNulls(a, op); a.toIntArray() }

  /** [[longs]] for `array<float>`. */
  def floats(a: ArrayData, op: String): Array[Float] = { requireNoNulls(a, op); a.toFloatArray() }

  private[plans] def requireNoNulls(a: ArrayData, op: String): Unit = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) throw nullElement(op, i); i += 1 }
  }

  /** The loud failure for a null element of a numeric kernel input. */
  def nullElement(op: String, at: Any): IllegalArgumentException =
    new IllegalArgumentException(s"$op: null element at $at")

  /** Java source that calls `method` of the Scala object `obj` — how a
    * kernel's `doGenCode` runs the same body as its `nullSafeEval`.
    */
  private[plans] def call(obj: AnyRef, method: String, args: Any*): String =
    s"${obj.getClass.getName}.MODULE$$.$method(${args.mkString(", ")})"

  /** Column API for the quantizer. */
  def quantizeUnits(e: Column): Column =
    ColumnBridge.column(QuantizeUnitsI64(ColumnBridge.expression(e)))

  /** Column API for the integer squared-L2 kernel. */
  def l2Units(a: Column, b: Column): Column =
    ColumnBridge.column(L2UnitsI64(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the normalize-then-quantize kernel. */
  def normalizeUnits(e: Column): Column =
    ColumnBridge.column(NormalizeUnitsI64(ColumnBridge.expression(e)))

  /** Column API for the exact decimal dot-product kernel. */
  def decDotKernel(a: Column, b: Column): Column =
    ColumnBridge.column(DecDotF32(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
