package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact-arithmetic helpers.
  *
  * Engine-parity rule (SURVEY §5): aggregating doubles is
  * order-dependent, and Spark's partition order differs from any
  * single-node oracle — so every sum/avg/moment casts to DECIMAL
  * first. Decimal arithmetic is exact integer math, identical on any
  * engine and any partitioning, which also means results are stable
  * when the same query runs on a 1000-executor cluster.
  */
object Exact {
  /** Money/value columns: 2 fractional digits, narrow enough that a
    * three-way product stays under DECIMAL(38).
    */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Higher-resolution cast for ratios/returns feeding moment sums.
    * Rounds in double first: engines disagree on double→decimal CAST
    * at exact ties (DuckDB's cast is multiply-based and can land on
    * either side), but round() is HALF_UP in both — so round, then
    * cast the already-6-decimal double losslessly.
    */
  def dec6(c: Column): Column = round(c, 6).cast(DecimalType(18, 6))

  /** Order-independent average: exact decimal sum, double division. */
  def avgExact(c: Column): Column = sum(dec2(c)).cast("double") / count(lit(1))

  /** Final-output form for exact-decimal results. Engines render
    * DECIMAL asymmetrically (trailing zeros: `3599.70` vs `3599.7`),
    * so no query may emit a raw DECIMAL column — emit a double.
    *
    * The rounding happens IN DECIMAL SPACE (exact integer math,
    * HALF_UP in every engine — no double can ever sit at a half
    * boundary), and only then casts to double. Order matters at
    * scale: rounding the double instead (round(cast(x AS DOUBLE), s))
    * is only parity-safe while |x|·10^s < 2^53 — DuckDB's double
    * round is a multiply/divide that drifts an ulp past that, and
    * q1-style sums cross it near sf1. After the decimal round the
    * remaining constraint is the decimal→double CAST itself
    * (correctly rounded in both engines), so callers keep
    * |x|·10^s < 2^53 by choosing a coarse output scale (money → 2).
    * `+ 0.0` normalizes −0.0. Oracle mirror:
    * `round(CAST(x AS DOUBLE), s) + 0.0` becomes
    * `CAST(round(x, s) AS DOUBLE) + 0.0` on a decimal x.
    */
  def outD(c: Column, s: Int): Column = round(c, s).cast("double") + lit(0.0)

  /** The tie-exact half-up quotient round(num · scale / den), for
    * num ≥ 0 and den > 0, as `(2·num·scale + den) DIV (2·den)`: the
    * one Spark-side spelling (the oracle's is
    * [[graft.queries.OracleBlocks.halfUpDiv]], SURVEY §5). A
    * count/count or decimal/count quotient with a power-of-two
    * denominator (volume sums, 128-token documents, `df + 1`, 2^k
    * test sizes) is binary-exact and can sit on a true `.xxxxxx5`
    * tie, where Spark's HALF_UP and DuckDB's double rounding disagree
    * (7 fin_vwap rows at sf0.1 once did); integer half-up has no tie
    * to disagree on. `num` and `den` are SQL operands; `2·num·scale`
    * must fit a BIGINT (num < 4.6e12 at scale 10⁶).
    */
  def halfUpDiv(num: String, den: String, scale: Long = 1): Column =
    expr(s"(2 * ($num)${if (scale == 1) "" else s" * $scale"} + ($den)) DIV (2 * ($den))")

  /** A count of 10⁻⁶ units as its double value, −0.0 normalized. */
  def micros(units: Column): Column = (units.cast("double") / lit(1e6)) + lit(0.0)

  /** num / den rounded half-up at 6 decimals ([[halfUpDiv]]); a `num`
    * already in 10⁻⁶ (10⁻²) units passes `scale` 1 (10⁴).
    */
  def ratio6(num: String, den: String, scale: Long = 1000000): Column =
    micros(halfUpDiv(num, den, scale))

  /** The signed [[halfUpDiv]]: `mag` is the quotient of `abs(num)`,
    * kept as its own column so it is computed once, and the sign of
    * `num` is reapplied (half-up is symmetric about zero).
    */
  def withSignOf(num: Column, mag: Column): Column = when(num < 0, -mag).otherwise(mag)

  /** n·Σab − Σa·Σb in doubles over exact decimal moment sums: the one
    * fixed operation sequence behind every moment statistic below,
    * which the oracle replays (OracleBlocks.comoment).
    */
  private def comoment(n: Column, a: Column, b: Column, ab: Column): Column =
    n.cast("double") * ab.cast("double") - a.cast("double") * b.cast("double")

  /** Sample standard deviation sqrt((n·Σx² − (Σx)²) / (n·(n − 1)));
    * the caller guards n > 1. The doubles need not cancel exactly: a
    * constant series of decimals that are not binary-exact (12.34
    * three times) leaves −2.3e-13, so the result is NaN, not 0
    * (RoundingPropertySpec pins it).
    */
  def sampleStd(n: Column, s: Column, s2: Column): Column =
    sqrt(comoment(n, s, s, s2) / (n.cast("double") * (n - 1).cast("double")))

  /** Pearson's r rounded to 6 decimals; null where either variance is
    * zero (a constant series has no defined correlation).
    */
  def pearson(n: Column, sx: Column, sy: Column, sxy: Column, sx2: Column, sy2: Column): Column = {
    val (vx, vy) = (comoment(n, sx, sx, sx2), comoment(n, sy, sy, sy2))
    when(vx > 0.0 && vy > 0.0, round(comoment(n, sx, sy, sxy) / sqrt(vx * vy), 6) + lit(0.0))
  }

  /** Beta of returns r on market returns m rounded to 6 decimals;
    * null where the market variance is zero or `given` is false.
    */
  def beta(n: Column, sr: Column, sm: Column, srm: Column, sm2: Column,
           given: Option[Column] = None): Column = {
    val den = comoment(n, sm, sm, sm2)
    when(given.fold(den =!= 0.0)(_ && den =!= 0.0),
      round(comoment(n, sr, sm, srm) / den, 6) + lit(0.0))
  }
}
