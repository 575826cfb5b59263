package graft

import graft.functions.Exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The exact-arithmetic helpers every operator composes (SURVEY §5),
  * run through Spark in a generated-code and an interpreted session:
  * [[Exact.halfUpDiv]] (and its signed form through
  * [[Exact.withSignOf]]) must equal HALF_UP rounding of a/b at 6
  * decimals for all integer inputs — including the power-of-two
  * denominators whose binary-exact ties split engines under double
  * round() — and the moment helpers must match a BigDecimal
  * evaluation of their formulas.
  */
class RoundingPropertySpec extends SparkSpec {

  private def bigDecimalHalfUp(a: Long, b: Long): Long =
    ((BigDecimal(a) / BigDecimal(b)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      * BigDecimal(1000000)).toLongExact

  /** Each (a, b) with its signed half-up quotient a·10⁶/b, per session. */
  private def quotients(cases: Seq[(Long, Long)]): Seq[Seq[(Long, Long, Long)]] =
    bothEvalModes.map { s =>
      import s.implicits._
      cases.toDF("a", "b")
        .withColumn("mag", Exact.halfUpDiv("abs(a)", "b", 1000000))
        .select(col("a"), col("b"), Exact.withSignOf(col("a"), col("mag")).as("q"))
        .as[(Long, Long, Long)].collect().toSeq
    }

  private def assertHalfUp(cases: Seq[(Long, Long)]): Unit =
    quotients(cases).foreach { rows =>
      assert(rows.size === cases.size)
      rows.foreach { case (a, b, q) => assert(q === bigDecimalHalfUp(a, b), s"a=$a b=$b") }
    }

  test("integer half-up equals BigDecimal HALF_UP on random non-negative quotients") {
    val rng = new scala.util.Random(20260813L)
    assertHalfUp(Seq.fill(100000) {
      (math.abs(rng.nextLong()) % 4000000000L, 1L + math.abs(rng.nextLong()) % 100000L)
    })
  }

  test("power-of-two denominators (the engine-splitting tie class) are exact") {
    // a/128 with odd a has exactly 7 fractional digits ending in 5 —
    // the true tie double round() can't resolve portably
    assertHalfUp(for (k <- 0 to 20; a <- Seq(1L, 127L, 129L, 999999L, 12345677L)) yield (a, 1L << k))
  }

  test("the signed form rounds negative ties away from zero, mirroring positive ones") {
    val ties = for (k <- 1 to 20; a <- Seq(1L, 127L, 129L, 999999L, 12345677L)) yield (a, 1L << k)
    assertHalfUp(ties.map { case (a, b) => (-a, b) } ++ Seq((-3L, 2000000L), (-1L, 2000000L)))
    quotients(ties ++ ties.map { case (a, b) => (-a, b) }).foreach { rows =>
      val q = rows.map { case (a, b, v) => (a, b) -> v }.toMap
      ties.foreach { case (a, b) => assert(q((-a, b)) === -q((a, b)), s"a=$a b=$b") }
    }
  }

  test("the documented overflow bound holds below 4.6e12 numerators") {
    val a = 4600000000000L - 1
    assert(2 * a * 1000000L > 0, "no Long overflow at the documented bound")
    assertHalfUp(Seq((a, 1L)))
  }

  test("ratio6 is the half-up quotient as a double") {
    bothEvalModes.foreach { s =>
      import s.implicits._
      val got = Seq((1L, 128L), (5L, 8L), (0L, 7L), (2L, 3L)).toDF("a", "b")
        .select(col("a"), col("b"), Exact.ratio6("a", "b").as("r"))
        .as[(Long, Long, Double)].collect()
      got.foreach { case (a, b, r) => assert(r === bigDecimalHalfUp(a, b) / 1e6, s"a=$a b=$b") }
    }
  }

  /** Count, Σx and Σx² of each series as exact decimals, the way the
    * operators feed the moment helpers.
    */
  private def sums(s: SparkSession, series: Seq[Seq[BigDecimal]]): DataFrame = {
    import s.implicits._
    series.zipWithIndex.flatMap { case (xs, i) => xs.map(x => (i, x.bigDecimal)) }
      .toDF("id", "x")
      .selectExpr("id", "CAST(x AS DECIMAL(12,2)) AS x")
      .groupBy("id").agg(org.apache.spark.sql.functions.count(col("x")).as("n"),
        org.apache.spark.sql.functions.sum(col("x")).as("s"),
        org.apache.spark.sql.functions.sum(col("x") * col("x")).as("s2"))
  }

  private def exactStd(xs: Seq[BigDecimal]): Double = {
    val n = BigDecimal(xs.size)
    val v = (n * xs.map(x => x * x).sum - xs.sum * xs.sum) / (n * (n - 1))
    math.sqrt(v.toDouble)
  }

  private val rng = new scala.util.Random(20261021L)
  private def prices(n: Int): Seq[BigDecimal] = Seq.fill(n)(BigDecimal(rng.nextInt(1000000)) / 100)

  test("sampleStd matches the BigDecimal sample standard deviation") {
    val series = (2 to 20).map(prices)
    bothEvalModes.foreach { s =>
      val got = sums(s, series).select(col("id"),
          Exact.sampleStd(col("n"), col("s"), col("s2")).as("sd"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      series.zipWithIndex.foreach { case (xs, i) =>
        val want = exactStd(xs)
        assert(math.abs(got(i) - want) <= 1e-9 * want, s"series $i: ${got(i)} vs $want")
      }
    }
  }

  test("sampleStd of a constant series: 0 where the doubles cancel exactly, NaN where they do not") {
    // n·Σx² − (Σx)² is evaluated in doubles over decimals that are not
    // all binary-exact: for 12.34 three times the two products round
    // apart and the difference is −2.3e-13, so the sqrt is NaN (DuckDB
    // raises an error instead). Pinned here as a known defect of the
    // shared formula; a fix flips this case to 0.
    val exact = Seq(Seq.fill(3)(BigDecimal("1.00")), Seq.fill(20)(BigDecimal("0.50")),
      Seq.fill(2)(BigDecimal("12.34")), Seq.fill(20)(BigDecimal("100.25")))
    val inexact = Seq.fill(3)(BigDecimal("12.34"))
    bothEvalModes.foreach { s =>
      val got = sums(s, exact :+ inexact).select(col("id"),
          Exact.sampleStd(col("n"), col("s"), col("s2")).as("sd"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      exact.indices.foreach(i => assert(got(i) === 0.0, s"series $i"))
      assert(got(exact.size).isNaN)
    }
  }

  /** Σx, Σy, Σxy, Σx², Σy² of paired series as exact decimals. */
  private def pairSums(s: SparkSession, pairs: Seq[Seq[(BigDecimal, BigDecimal)]]): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.{count, sum}
    pairs.zipWithIndex.flatMap { case (xys, i) => xys.map { case (x, y) => (i, x.bigDecimal, y.bigDecimal) } }
      .toDF("id", "x", "y")
      .selectExpr("id", "CAST(x AS DECIMAL(12,2)) AS x", "CAST(y AS DECIMAL(12,2)) AS y")
      .groupBy("id").agg(count(col("x")).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (n·Σxy − Σx·Σy, n·Σx² − (Σx)², n·Σy² − (Σy)²) in BigDecimal. */
  private def comoments(xys: Seq[(BigDecimal, BigDecimal)]): (BigDecimal, BigDecimal, BigDecimal) = {
    val n = BigDecimal(xys.size)
    val (xs, ys) = xys.unzip
    (n * xys.map { case (x, y) => x * y }.sum - xs.sum * ys.sum,
      n * xs.map(x => x * x).sum - xs.sum * xs.sum,
      n * ys.map(y => y * y).sum - ys.sum * ys.sum)
  }

  private val pairs = (3 to 12).map(n => prices(n).zip(prices(n))) ++
    Seq(Seq.fill(4)(BigDecimal("2.00")).zip(prices(4)))

  test("pearson matches the BigDecimal correlation, null on a zero variance") {
    bothEvalModes.foreach { s =>
      val got = pairSums(s, pairs).select(col("id"),
          Exact.pearson(col("n"), col("sx"), col("sy"), col("sxy"), col("sx2"), col("sy2")).as("r"))
        .collect().map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      pairs.zipWithIndex.foreach { case (xys, i) =>
        val (cov, vx, vy) = comoments(xys)
        if (vx == 0 || vy == 0) assert(got(i).isEmpty, s"pair set $i")
        else {
          val want = round6((cov / BigDecimal(math.sqrt((vx * vy).toDouble))).toDouble)
          assert(math.abs(got(i).get - want) <= 1e-6, s"pair set $i: ${got(i)} vs $want")
        }
      }
    }
  }

  test("beta matches the BigDecimal slope, null on a zero market variance or when not given") {
    bothEvalModes.foreach { s =>
      val frame = pairSums(s, pairs)
      def betas(given: Option[org.apache.spark.sql.Column]) = frame.select(col("id"),
          Exact.beta(col("n"), col("sy"), col("sx"), col("sxy"), col("sx2"), given).as("b"))
        .collect().map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      val got = betas(None)
      pairs.zipWithIndex.foreach { case (xys, i) =>
        val (cov, vx, _) = comoments(xys)
        if (vx == 0) assert(got(i).isEmpty, s"pair set $i")
        else {
          val want = round6((cov / vx).toDouble)
          assert(math.abs(got(i).get - want) <= 1e-6, s"pair set $i: ${got(i)} vs $want")
        }
      }
      assert(betas(Some(col("n") > 100)).values.forall(_.isEmpty))
    }
  }
}
