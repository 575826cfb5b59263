package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

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
  */

/** `array<float>` → `array<long>`: quantize every component to 1e-8
  * units, once per row. Null elements are not expected (embedding
  * columns are dense); a null element in interpreted eval surfaces as
  * a NullPointerException rather than silently zeroing.
  */
case class QuantizeUnitsI64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"quantize_units expects array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_units"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = QuantizeUnitsI64.quantize(x.getFloat(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val v = ctx.freshName("v")
      val t = ctx.freshName("t"); val f = ctx.freshName("f")
      s"""
         |int $n = $arr.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = ((double) $arr.getFloat($i)) * 1.0E8D;
         |  ${QuantizeUnitsI64.guardJava(v)}
         |  long $t = (long) $v;
         |  double $f = $v - (double) $t;
         |  $out[$i] = ($v >= 0.0D) ? ($f >= 0.5D ? $t + 1L : $t)
         |                          : ($f <= -0.5D ? $t - 1L : $t);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

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

  /** The codegen-inlined guard mirroring [[quantize]]'s range check. */
  private[plans] def guardJava(v: String): String =
    s"""if (!(java.lang.Math.abs($v) < 4.503599627370496E15D)) """ +
      s"""throw new ArithmeticException("quantize_units: |e*1e8| = " + $v + " not < 2^52");"""
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
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"l2_units expects two array<long> arguments, got $l / $r")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "l2_units"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = IntegerUnits.requireSameLength(x.numElements(), y.numElements(), "l2_units")
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr1, arr2) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |${IntegerUnits.sameLengthJava(n, arr1, arr2, "l2_units")}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $arr1.getLong($i) - $arr2.getLong($i);
         |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($d, $d));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
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
case class NormalizeUnitsI64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"normalize_units expects array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "normalize_units"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val n8 = NormalizeUnitsI64.dec8Unscaled(x.getFloat(i))
      acc = Math.addExact(acc, Math.multiplyExact(n8, n8))
      i += 1
    }
    val nrm = math.sqrt(java.math.BigDecimal.valueOf(acc, 16).doubleValue())
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      out(i) =
        if (nrm > 0.0) QuantizeUnitsI64.quantize((x.getFloat(i).toDouble / nrm).toFloat)
        else QuantizeUnitsI64.quantize(x.getFloat(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val n8 = ctx.freshName("n8")
      val nrm = ctx.freshName("nrm"); val out = ctx.freshName("out")
      val v = ctx.freshName("v"); val t = ctx.freshName("t"); val f = ctx.freshName("f")
      val helper = NormalizeUnitsI64.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |int $n = $arr.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $n8 = $helper.dec8Unscaled($arr.getFloat($i));
         |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($n8, $n8));
         |}
         |double $nrm = java.lang.Math.sqrt(java.math.BigDecimal.valueOf($acc, 16).doubleValue());
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = ($nrm > 0.0D)
         |    ? ((double) (float) (((double) $arr.getFloat($i)) / $nrm)) * 1.0E8D
         |    : ((double) $arr.getFloat($i)) * 1.0E8D;
         |  ${QuantizeUnitsI64.guardJava(v)}
         |  long $t = (long) $v;
         |  double $f = $v - (double) $t;
         |  $out[$i] = ($v >= 0.0D) ? ($f >= 0.5D ? $t + 1L : $t)
         |                          : ($f <= -0.5D ? $t - 1L : $t);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeUnitsI64 {
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
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"dec_dot expects two array<float> arguments, got $l / $r")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DecimalType(30, 16)
  override def prettyName: String = "dec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = IntegerUnits.requireSameLength(x.numElements(), y.numElements(), "dec_dot")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(
        NormalizeUnitsI64.dec8Unscaled(x.getFloat(i)),
        NormalizeUnitsI64.dec8Unscaled(y.getFloat(i))))
      i += 1
    }
    org.apache.spark.sql.types.Decimal(java.math.BigDecimal.valueOf(acc, 16), 30, 16)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr1, arr2) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      val helper = NormalizeUnitsI64.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |${IntegerUnits.sameLengthJava(n, arr1, arr2, "dec_dot")}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact(
         |    $helper.dec8Unscaled($arr1.getFloat($i)), $helper.dec8Unscaled($arr2.getFloat($i))));
         |}
         |${ev.value} = org.apache.spark.sql.types.Decimal.apply(
         |  java.math.BigDecimal.valueOf($acc, 16), 30, 16);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
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

  /** Codegen twin of [[requireSameLength]]: declares `int nVar`. */
  private[plans] def sameLengthJava(nVar: String, arr1: String, arr2: String, op: String): String =
    s"""int $nVar = $arr1.numElements();
       |if ($nVar != $arr2.numElements()) throw new IllegalArgumentException(
       |  "$op: array lengths differ (" + $nVar + " vs " + $arr2.numElements() + ")");""".stripMargin

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
