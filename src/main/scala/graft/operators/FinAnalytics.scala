package graft.operators

import graft.functions.Exact
import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Financial time-series analytics — the derived metrics the
  * reference stores in its `financialData` table (fiftyDayAverage,
  * twoHundredDayAverage, fiftyTwoWeekHigh/Low, beta, earningsGrowth;
  * sql/sqlrequests.sql:60) plus the cyclical feature engineering from
  * regressors/to_review/plot_cyclical_feature_engineering.py —
  * recomputed declaratively over the `events` series (user_id = the
  * instrument key, value = the price).
  *
  * Every per-key computation shares ONE hash-partitioning on
  * user_id: OHLC → window aggs → returns → moments all run in the
  * same shuffle boundary, which is what keeps this linear at 100 TB.
  * All moment sums use exact decimals (SURVEY §5) so results are
  * independent of partition count.
  */
object FinAnalytics {

  /** Per key/day OHLC bars from the raw tick stream. Open/close are
    * selected by a total order (ts, event_id) so the result is
    * deterministic even with duplicate timestamps.
    */
  def dailyOhlc(events: DataFrame): DataFrame = ohlcBars(events, "day")

  /** OHLC resampling at any calendar unit — the reference's
    * `receive_history(interval=…)` generalized (dataAcquisition.py:37).
    * Open/close are selected by a total order (ts, event_id) so the
    * result is deterministic even with duplicate timestamps.
    */
  def ohlcBars(events: DataFrame, unit: String): DataFrame =
    barsCore(events, unit)
      .orderBy(col("user_id"), col(if (unit == "day") "day" else unit))

  /** The unsorted bar aggregation behind [[ohlcBars]] — reused by
    * [[infoSnapshot]], whose downstream windows re-cluster by
    * user_id and would waste the presentation sort.
    */
  private def barsCore(events: DataFrame, unit: String): DataFrame = {
    // Sub-day units must keep the timestamp: casting "hour" bars to
    // date would silently collapse them back to daily bars.
    val calendarUnits = Set("day", "week", "month", "quarter", "year")
    val truncated = date_trunc(unit, col("ts"))
    val bar = (if (calendarUnits(unit.toLowerCase)) truncated.cast("date") else truncated).as("bar")
    val wAsc = Window.partitionBy(col("user_id"), col("bar")).orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("user_id"), col("bar")).orderBy(col("ts").desc, col("event_id").desc)
    events.select(col("user_id"), bar, col("ts"), col("event_id"), col("value"))
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy(col("user_id"), col("bar"))
      .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
           max(col("value")).as("high"),
           min(col("value")).as("low"),
           max(when(col("rn_d") === 1, col("value"))).as("close"),
           count(lit(1)).as("n_ticks"))
      .withColumnRenamed("bar", if (unit == "day") "day" else unit)
  }

  /** Close-price series per key/day (shared input for the window
    * analytics below).
    */
  private def closes(events: DataFrame): DataFrame = {
    val day = date_trunc("day", col("ts")).cast("date").as("day")
    val wDesc = Window.partitionBy(col("user_id"), col("day")).orderBy(col("ts").desc, col("event_id").desc)
    events.select(col("user_id"), day, col("ts"), col("event_id"), col("value"))
      // ONE fact shuffle for the whole closes family: hash(user_id)
      // satisfies the (user_id, day) clustering this window needs AND
      // the user_id clustering every downstream analytics window
      // needs, so EnsureRequirements inserts no second Exchange.
      // Without this, each closes-based query shuffled the facts
      // twice (hash(user_id, day) here, hash(user_id) later).
      .repartition(col("user_id"))
      .withColumn("rn", row_number().over(wDesc))
      // per-day tick count = the "volume" of the bar (the reference's
      // financialData regularMarketVolume analog). Same (user_id, day)
      // clustering as wDesc — hash(user_id) satisfies it, so the count
      // window adds no Exchange.
      .withColumn("volume",
        count(lit(1)).over(Window.partitionBy(col("user_id"), col("day"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close"), col("volume"))
  }

  /** Each user's bars in day order, the family's one window ordering. */
  private def byDay: WindowSpec = Window.partitionBy(col("user_id")).orderBy(col("day"))

  /** The trailing `bars`-bar frame of [[byDay]], ending at the current bar. */
  private def trailing(bars: Int): WindowSpec = byDay.rowsBetween(-(bars - 1), 0)

  /** A daily return needs a previous close neither missing nor zero
    * (ANSI makes x / 0 an error). Oracle twin: OracleBlocks.returnDefined.
    */
  private def returnDefined(prev: Column): Column = prev.isNotNull && prev =!= 0.0

  /** The daily simple return close / prev − 1, in doubles. */
  private def dailyReturn(prev: Column): Column = col("close") / prev - lit(1.0)

  /** `closes` with each user's daily return `ret` over `prev_close`,
    * where defined: the one series [[returns]], [[beta]] and
    * [[infoRatio]] read.
    */
  private def dailyReturns(closes: DataFrame): DataFrame =
    closes.withColumn("prev_close", lag(col("close"), 1).over(byDay))
      .filter(returnDefined(col("prev_close")))
      .withColumn("ret", dailyReturn(col("prev_close")))

  /** Wide→long reshape of the daily OHLC bars (the melt/unpivot the
    * reference's plotting layer does before charting): one row per
    * (user_id, day, metric). Runs through Spark's native `unpivot`
    * operator (an Expand node — no join, no shuffle beyond the OHLC
    * aggregation itself; output is exactly 4× the bar count).
    */
  def ohlcUnpivot(events: DataFrame): DataFrame =
    dailyOhlc(events)
      .unpivot(Array(col("user_id"), col("day")),
        Array(col("open"), col("high"), col("low"), col("close")),
        "metric", "value")
      .orderBy(col("user_id"), col("day"), col("metric"))

  /** Rolling LOWER median (element ⌈n/2⌉ of the sorted frame) of the
    * daily close over the trailing `bars` bars — the robust
    * moving-average companion. Lower-median semantics deliberately:
    * it always RETURNS AN INPUT VALUE, so there is no interpolation
    * arithmetic to diverge between engines (interpolated medians
    * average two doubles, whose (a+b)/2 vs a+(b−a)/2 forms differ in
    * the last ulp). The frame is ≤ `bars` rows, so the per-row sort
    * is O(bars·log bars) on a constant — the whole query still costs
    * the one closes-family shuffle.
    */
  def rollingMedian(events: DataFrame, bars: Int = 5): DataFrame = {
    val w = trailing(bars)
    closes(events)
      .withColumn("vals", sort_array(collect_list(col("close")).over(w)))
      .withColumn("med", element_at(col("vals"), ((size(col("vals")) + 1) / 2).cast("int")))
      .select(col("user_id"), col("day"), col("close"), col("med"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Pairwise return correlation across the `topN` most-traded
    * instruments — the watchlist correlation matrix. The watchlist
    * is selected distributedly (per-key tick counts, deterministic
    * (count DESC, user_id) tiebreak) and BROADCAST back, so the
    * quadratic blow-up is over a bounded k, never the corpus: the
    * per-day self-join fans out to ≤ k rows × k rows per day and the
    * moment sums partial-aggregate map-side. Exact decimal moments
    * (same dec6 discipline as [[volatility]]/[[beta]]) keep the
    * result independent of partition count; only the final corr
    * formula runs in doubles.
    */
  def corrPairs(events: DataFrame, topN: Int = 20): DataFrame = {
    // compose returns() so the return DEFINITION (zero/null-prev
    // guards) has exactly one home, like volatility does
    val rets = returns(events)
      .select(col("user_id"), col("day"), dec6(col("ret")).as("r"))
    val top = events.groupBy(col("user_id")).agg(count(lit(1)).as("n_ticks"))
      .orderBy(col("n_ticks").desc, col("user_id")).limit(topN)
      .select(col("user_id"))
    val sel = rets.join(broadcast(top), "user_id")
    val lhs = sel.select(col("user_id").as("u1"), col("day"), col("r").as("r1"))
    val rhs = sel.select(col("user_id").as("u2"), col("day"), col("r").as("r2"))
    lhs.join(rhs, Seq("day")).filter(col("u1") < col("u2"))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n"),
        sum(col("r1")).as("s1"), sum(col("r2")).as("s2"),
        sum(col("r1") * col("r2")).as("s12"),
        sum(col("r1") * col("r1")).as("s11"),
        sum(col("r2") * col("r2")).as("s22"))
      .filter(col("n") > 1)
      .select(col("u1"), col("u2"), col("n"),
        pearson(col("n"), col("s1"), col("s2"), col("s12"), col("s11"), col("s22")).as("corr"))
      .orderBy(col("u1"), col("u2"))
  }

  /** 5- and 20-row moving averages of the daily close — the
    * fiftyDayAverage / twoHundredDayAverage analog. Exact decimal
    * window sums / window counts, so the sliding-frame
    * implementation (recompute vs segment tree) can't change the
    * result.
    */
  def movingAvg(events: DataFrame): DataFrame = {
    val w5 = trailing(5)
    val w20 = trailing(20)
    closes(events)
      .withColumn("ma5", sum(dec2(col("close"))).over(w5).cast("double") / count(lit(1)).over(w5))
      .withColumn("ma20", sum(dec2(col("close"))).over(w20).cast("double") / count(lit(1)).over(w20))
      .select(col("user_id"), col("day"), col("close"), col("ma5"), col("ma20"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Rolling high/low over the trailing 10 bars — fiftyTwoWeekHigh /
    * fiftyTwoWeekLow analog (max/min are order-independent, no
    * decimal needed).
    */
  def rollingHiLo(events: DataFrame, bars: Int = 10): DataFrame = {
    val w = trailing(bars)
    closes(events)
      .withColumn("rolling_high", max(col("close")).over(w))
      .withColumn("rolling_low", min(col("close")).over(w))
      .select(col("user_id"), col("day"), col("close"),
        col("rolling_high"), col("rolling_low"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Per-period simple returns close/lag(close) − 1 (the
    * earningsGrowth / regularMarket change analog,
    * [[dailyReturns]]). Pure double scalar math on deterministic
    * inputs.
    */
  def returns(events: DataFrame): DataFrame =
    dailyReturns(closes(events))
      .select(col("user_id"), col("day"), col("close"), col("ret"))
      .orderBy(col("user_id"), col("day"))

  /** Sample stddev of per-key returns via exact decimal moment sums:
    * var = (n·Σr² − (Σr)²) / (n·(n−1)) with the final combination in
    * doubles over exact inputs — order-independent, engine-parity.
    */
  def volatility(events: DataFrame): DataFrame = {
    val r = dec6(col("ret"))
    returns(events)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(r).as("sr"), sum(r * r).as("sr2"))
      .filter(col("n") > 1)
      .select(col("user_id"), col("n"),
        // round(…,6)+0.0: engines may differ in the last ulp when
        // casting scale-12 decimals to double (see SURVEY §5).
        (round(sampleStd(col("n"), col("sr"), col("sr2")), 6) + lit(0.0)).as("volatility"))
      .orderBy(col("user_id"))
  }

  /** Annualized Sharpe and Sortino ratios per key — the
    * risk-adjusted-return pair next to [[volatility]] (the reference
    * stores beta/earningsGrowth-style derived metrics per
    * instrument; sql/sqlrequests.sql:60). Same exact-decimal moment
    * discipline: n, Σr, Σr², and the DOWNSIDE second moment
    * Σ min(r,0)² (the standard Sortino denominator — full-count RMS
    * of the clamped returns, not the negative-subset variance) are
    * order-independent decimal sums; only the final ratio runs in
    * doubles, with round(…,6) absorbing last-ulp engine divergence.
    * Annualization uses √252 (daily bars → trading year).
    */
  def sharpe(events: DataFrame): DataFrame = {
    val r = dec6(col("ret"))
    val dn = dec6(least(col("ret"), lit(0.0)))
    returns(events)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(r).as("sr"), sum(r * r).as("sr2"),
        sum(dn * dn).as("sd2"))
      .filter(col("n") > 1)
      .select({
        val nD = col("n").cast("double")
        val mean = col("sr").cast("double") / nD
        val std = sampleStd(col("n"), col("sr"), col("sr2"))
        val down = sqrt(col("sd2").cast("double") / nD)
        Seq(col("user_id"), col("n"),
          when(std > 0.0, round(mean / std * sqrt(lit(252.0)), 6) + lit(0.0)).as("sharpe"),
          when(down > 0.0, round(mean / down * sqrt(lit(252.0)), 6) + lit(0.0)).as("sortino"))
      }: _*)
      .orderBy(col("user_id"))
  }

  /** Historical Value-at-Risk and Expected Shortfall per key at the
    * `pct` percent tail. VaR is an ORDER STATISTIC — element
    * ⌈n·pct/100⌉ of the per-key returns sorted ascending — so it
    * always returns an input value and there is no interpolation
    * arithmetic to diverge between engines (the [[rollingMedian]]
    * argument). ES is the mean of the returns at or below the VaR
    * (value-based, so duplicate boundary returns are all included,
    * independent of sort tiebreaks), computed as an exact dec6 sum
    * over the tail with one double division + round(…,6) at the end.
    * Scale shape: the rank window rides the one closes-family
    * hash(user_id) shuffle, and the tail aggregation reuses the same
    * clustering — no extra Exchange.
    */
  def varEs(events: DataFrame, pct: Int = 5): DataFrame = {
    val byRet = Window.partitionBy(col("user_id")).orderBy(col("ret"), col("day"))
    val whole = Window.partitionBy(col("user_id"))
    returns(events)
      .withColumn("rn", row_number().over(byRet))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("k", expr(s"(n * $pct + 99) DIV 100"))
      .withColumn("var_ret", max(when(col("rn") === col("k"), col("ret"))).over(whole))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n"), max(col("var_ret")).as("var_ret"),
        sum(when(col("ret") <= col("var_ret"), dec6(col("ret")))).as("tail_sum"),
        count(when(col("ret") <= col("var_ret"), lit(1))).as("tail_n"))
      .filter(col("n") > 1)
      .select(col("user_id"), col("n"), col("var_ret"),
        (round(col("tail_sum").cast("double") / col("tail_n").cast("double"), 6)
          + lit(0.0)).as("es"))
      .orderBy(col("user_id"))
  }

  /** Per-key beta vs the market: market value per day = exact sum of
    * closes, beta = (n·Σ(r·m) − Σr·Σm) / (n·Σm² − (Σm)²) over
    * matched daily returns. Market series is tiny (one row per day)
    * → broadcast back to the per-key series.
    */
  /** Daily market return series from a closes series: market value =
    * exact sum of closes per day, return = value/prev − 1 (null when
    * undefined). One row per day (bounded) — callers broadcast it.
    * Shared by [[beta]] and [[featureSnapshot]] so the market-return
    * DEFINITION (zero/null guards, decimal cast) has exactly one
    * home; their oracles mirror this helper.
    * The constant partition key gives the same single-partition
    * execution over the tiny series, without the "No Partition
    * Defined" WARN paging anyone on a real cluster.
    */
  private def marketReturns(closes: DataFrame): DataFrame = {
    val market = closes.groupBy(col("day")).agg(sum(dec2(col("close"))).as("mkt_value"))
    val wm = Window.partitionBy(lit(0)).orderBy(col("day"))
    market
      .withColumn("prev", lag(col("mkt_value"), 1).over(wm))
      .select(col("day"),
        when(col("prev").isNotNull && col("prev") =!= lit(0).cast("decimal(12,2)"),
          col("mkt_value").cast("double") / col("prev").cast("double") - lit(1.0)).as("mret"))
  }

  def beta(events: DataFrame): DataFrame = betaPerUser(events).orderBy(col("user_id"))

  /** Information ratio per key vs the equal-composite market
    * ([[marketReturns]]' definition): active return
    * a = dec6(r) − dec6(m) over matched days (the two returns are
    * rounded SEPARATELY before subtracting, so the decimal active
    * series is reproducible in any engine), IR = mean(a)/std(a)·√252
    * with the sample (n−1) std — the [[sharpe]] conventions applied
    * to active instead of absolute returns, closing the risk-ratio
    * family (sharpe/sortino/calmar/IR). Same one-shuffle shape as
    * [[beta]]: bounded market series broadcast back onto the per-key
    * returns, exact-decimal moment sums, final ratio in doubles.
    */
  def infoRatio(events: DataFrame): DataFrame = {
    val a = dec6(col("ret")) - dec6(col("mret"))
    matchedReturns(events)
      .select(col("user_id"), a.as("a"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("a") * col("a")).as("sa2"))
      .filter(col("n") > 1)
      .select(col("user_id"), col("n"), {
        val nD = col("n").cast("double")
        val mean = col("sa").cast("double") / nD
        val std = sampleStd(col("n"), col("sa"), col("sa2"))
        when(std > 0.0, round(mean / std * sqrt(lit(252.0)), 6) + lit(0.0)).as("info_ratio")
      })
      .orderBy(col("user_id"))
  }

  /** Unsorted per-user beta — shared by [[beta]] (which adds the
    * presentation sort) and [[infoSnapshot]] (which joins it and
    * would waste the sort).
    */
  private def betaPerUser(events: DataFrame): DataFrame = {
    val r = dec6(col("ret"))
    val m = dec6(col("mret"))
    matchedReturns(events)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(r).as("sr"), sum(m).as("sm"),
           sum(r * m).as("srm"), sum(m * m).as("sm2"))
      .filter(col("n") > 1)
      .select(col("user_id"), col("n"),
        Exact.beta(col("n"), col("sr"), col("sm"), col("srm"), col("sm2")).as("beta"))
  }

  /** Each user's [[dailyReturns]] matched to the market's return of
    * the same day ([[marketReturns]], broadcast back): the
    * (day, user_id, ret, mret) rows [[beta]] and [[infoRatio]] take
    * their moments over.
    */
  private def matchedReturns(events: DataFrame): DataFrame = {
    val c = closes(events)
    val marketRet = marketReturns(c).filter(col("mret").isNotNull)
      .select(col("day"), col("mret"))
    dailyReturns(c).select(col("user_id"), col("day"), col("ret"))
      .join(broadcast(marketRet), "day")
  }

  /** Cyclical time features — sin/cos encodings of hour-of-day,
    * day-of-week, month (plot_cyclical_feature_engineering.py's
    * periodic encodings). Rounded to 6 decimals: inputs are discrete
    * so the value set is small and verified equal across engines.
    * The event_id sort runs on the scan rows and the encodings above
    * it, so the sort's range sampler evaluates none of them.
    */
  def cyclicalFeatures(events: DataFrame): DataFrame = {
    // + 0.0 normalizes IEEE −0.0 to 0.0 so engines can't disagree on
    // the sign of a rounded-to-zero value.
    def enc(c: org.apache.spark.sql.Column, period: Int, name: String) = Seq(
      (round(sin(c * (lit(2.0) * lit(math.Pi) / period)), 6) + lit(0.0)).as(s"${name}_sin"),
      (round(cos(c * (lit(2.0) * lit(math.Pi) / period)), 6) + lit(0.0)).as(s"${name}_cos"))
    events.orderBy(col("event_id")).select(
      Seq(col("event_id"), hour(col("ts")).cast("long").as("hour"),
          (dayofweek(col("ts")) - 1).cast("long").as("dow"),
          month(col("ts")).cast("long").as("month")) ++
        enc(hour(col("ts")), 24, "hour") ++
        enc(dayofweek(col("ts")) - 1, 7, "dow") ++
        enc(month(col("ts")), 12, "month"): _*)
  }

  /** Periodic cubic B-spline encodings of hour-of-day — the
    * reference's `periodic_spline_transformer(24, n_splines=12)`
    * (plot_cyclical_feature_engineering.py:421-434) as pure Column
    * algebra. Uniform periodic knots every `period/nSplines` hours;
    * basis j evaluates the cardinal cubic B-spline at
    * u = ((hour/h − j) mod K), support [0,4). Smoother than sin/cos
    * (local support: a basis only "sees" its 4-knot neighborhood),
    * which is exactly why the reference uses it for regression
    * features. Piecewise cubics are written with the SAME literal
    * operation order as the oracle SQL so both engines produce
    * identical doubles; rounded to 6 decimals, −0.0-normalized.
    * Sorted on the scan rows, below the basis projection: the range
    * sampler reads the narrow (event_id, ts) rows, not the bases.
    */
  def splineFeatures(events: DataFrame, nSplines: Int = 12, period: Int = 24): DataFrame = {
    val h = period.toDouble / nSplines
    val k = lit(nSplines.toDouble)
    def b3(t: Column): Column =
      when(t < 1.0, t * t * t / 6.0)
        .when(t < 2.0, (lit(-3.0) * t * t * t + lit(12.0) * t * t - lit(12.0) * t + lit(4.0)) / 6.0)
        .when(t < 3.0, (lit(3.0) * t * t * t - lit(24.0) * t * t + lit(60.0) * t - lit(44.0)) / 6.0)
        .when(t < 4.0, (lit(4.0) - t) * (lit(4.0) - t) * (lit(4.0) - t) / 6.0)
        .otherwise(lit(0.0))
    val hr = hour(col("ts")).cast("double")
    val basisCols = (0 until nSplines).map { j =>
      val u = ((hr / h - lit(j.toDouble)) % k + k) % k
      (round(b3(u), 6) + lit(0.0)).as(f"spline_h$j%02d")
    }
    events.orderBy(col("event_id"))
      .select(col("event_id") +: hour(col("ts")).cast("long").as("hour") +: basisCols: _*)
  }

  /** Bollinger bands over the daily close: 20-bar moving average ±
    * 2× the 20-bar sample stddev, plus %B (where the close sits
    * inside the band). The reference's financialData carries exactly
    * this family of band/average metrics (fiftyDayAverage + 52-week
    * extremes, sql/sqlrequests.sql:60); Bollinger is the canonical
    * composition of the two. The stddev uses the same exact-decimal
    * moment sums as [[volatility]] (n·Σx² − (Σx)² over DECIMAL(12,2)
    * closes), so results are partition-count-independent; band edges
    * and %B derive from the ROUNDED stddev so both engines replay
    * identical double arithmetic. One closes-family shuffle.
    */
  def bollinger(events: DataFrame, bars: Int = 20): DataFrame = {
    val w = trailing(bars)
    val c2 = dec2(col("close"))
    closes(events)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(c2).over(w))
      .withColumn("s2", sum(c2 * c2).over(w))
      .withColumn("ma20", col("s").cast("double") / col("n"))
      .withColumn("std20", when(col("n") > 1,
        round(sampleStd(col("n"), col("s"), col("s2")), 6) + lit(0.0)))
      .withColumn("upper", when(col("std20").isNotNull,
        round(col("ma20") + lit(2.0) * col("std20"), 6) + lit(0.0)))
      .withColumn("lower", when(col("std20").isNotNull,
        round(col("ma20") - lit(2.0) * col("std20"), 6) + lit(0.0)))
      .withColumn("pct_b", when(col("upper") > col("lower"),
        round((col("close") - col("lower")) / (col("upper") - col("lower")), 6) + lit(0.0)))
      .select(col("user_id"), col("day"), col("close"), col("ma20"), col("std20"),
        col("upper"), col("lower"), col("pct_b"))
      .orderBy(col("user_id"), col("day"))
  }

  /** 14-bar RSI (Cutler's simple-average form — window sums, not
    * Wilder's recursive smoothing, so the metric is pure Column
    * algebra over the same closes partitioning instead of an
    * inherently sequential scan). Gains/losses are exact decimals;
    * rs = Σgain/Σloss runs in doubles over exact sums. A window with
    * zero losses and any gain saturates at 100; a flat window (no
    * gains either) has no defined RSI.
    */
  def rsi(events: DataFrame, bars: Int = 14): DataFrame = {
    val w = trailing(bars)
    val zero6 = lit(0).cast("decimal(18,6)")
    closes(events)
      .withColumn("prev", lag(col("close"), 1).over(byDay))
      .filter(col("prev").isNotNull)
      .withColumn("gain", when(col("close") > col("prev"), dec6(col("close") - col("prev"))).otherwise(zero6))
      .withColumn("loss", when(col("close") < col("prev"), dec6(col("prev") - col("close"))).otherwise(zero6))
      .withColumn("sg", sum(col("gain")).over(w))
      .withColumn("sl", sum(col("loss")).over(w))
      .withColumn("rsi14",
        when(col("sl") > 0, round(lit(100.0) - lit(100.0)
          / (lit(1.0) + col("sg").cast("double") / col("sl").cast("double")), 6) + lit(0.0))
          .when(col("sg") > 0, lit(100.0)))
      .select(col("user_id"), col("day"), col("close"), col("rsi14"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Trailing volume-weighted average close (VWAP over `bars` days):
    * Σ(close·volume) / Σ(volume), both sums exact (decimal × long),
    * one double division at the end — the volume-aware price average
    * the reference's financialData carries next to averageVolume.
    * Rides the shared closes-family shuffle (one window, no extra
    * Exchange).
    */
  def vwap(events: DataFrame, bars: Int = 10): DataFrame = {
    val w = trailing(bars)
    closes(events)
      .withColumn("pv", sum(dec2(col("close")) * col("volume")).over(w))
      .withColumn("v", sum(col("volume")).over(w))
      // pv/v rounds tie-exact at 6 dp (volume sums are often powers of
      // two); pv in 10⁻² units fits the quotient's BIGINT bound while
      // |pv| < 4.6e12 (price·volume windows at any realistic scale)
      .withColumn("pv2", (col("pv") * 100).cast("long"))
      .withColumn("mag", halfUpDiv("abs(pv2)", "v", 10000))
      .withColumn("vwap10", micros(withSignOf(col("pv2"), col("mag"))))
      .select(col("user_id"), col("day"), col("close"), col("volume"), col("vwap10"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Stochastic oscillator: %K = 100·(close − low14)/(high14 − low14)
    * over the trailing 14 days (null on a flat window — no division
    * convention to disagree on), %D = 3-day mean of %K as an explicit
    * left-associated (k + k₁ + k₂)/3 so the double arithmetic is a
    * fixed op sequence, not an engine-ordered aggregate. One
    * closes-family shuffle, three window passes over it.
    */
  def stochastic(events: DataFrame, bars: Int = 14): DataFrame = {
    val w = trailing(bars)
    closes(events)
      .withColumn("lo", min(dec2(col("close"))).over(w))
      .withColumn("hi", max(dec2(col("close"))).over(w))
      .withColumn("pct_k", when(col("hi") > col("lo"),
        round(lit(100.0) * (dec2(col("close")) - col("lo")).cast("double")
          / (col("hi") - col("lo")).cast("double"), 6) + lit(0.0)))
      .withColumn("k1", lag(col("pct_k"), 1).over(byDay))
      .withColumn("k2", lag(col("pct_k"), 2).over(byDay))
      .withColumn("pct_d",
        when(col("pct_k").isNotNull && col("k1").isNotNull && col("k2").isNotNull,
          round((col("pct_k") + col("k1") + col("k2")) / lit(3.0), 6) + lit(0.0)))
      .select(col("user_id"), col("day"), col("close"), col("pct_k"), col("pct_d"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Average true range (Wilder's volatility indicator, window-mean
    * form like [[rsi]]): per daily bar, TR = max(high−low,
    * |high−prev_close|, |low−prev_close|) on 2-dp-quantized prices —
    * exact decimal comparisons, no rounding ambiguity — and ATR14 is
    * the trailing 14-bar mean of TR, a tie-exact 6-dp ratio (TR units
    * are 1e-2, counts can be 2^k). First bar has no prev_close → no
    * TR row.
    * One OHLC shuffle, two ordered windows over the same clustering.
    */
  def atr(events: DataFrame, bars: Int = 14): DataFrame = {
    val w = trailing(bars)
    dailyOhlc(events)
      .withColumn("pc", lag(dec2(col("close")), 1).over(byDay))
      .filter(col("pc").isNotNull)
      .withColumn("tr", greatest(
        dec2(col("high")) - dec2(col("low")),
        abs(dec2(col("high")) - col("pc")),
        abs(dec2(col("low")) - col("pc"))))
      .withColumn("s2", (sum(col("tr")).over(w) * 100).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("atr14", ratio6("s2", "n", scale = 10000))
      .select(col("user_id"), col("day"),
        (col("tr").cast("double") + lit(0.0)).as("tr"), col("atr14"))
      .orderBy(col("user_id"), col("day"))
  }

  /** On-balance volume: running Σ sign(Δclose)·volume per instrument
    * — the classic volume-flow accumulation indicator. Direction is
    * decided on 2-dp-quantized closes and the product/sum stay in
    * LONG arithmetic, so the running total is exact integer math on
    * any partitioning/engine. One closes-family shuffle, two ordered
    * windows over the same clustering.
    */
  def obv(events: DataFrame): DataFrame = {
    val cum = byDay.rowsBetween(Window.unboundedPreceding, 0)
    closes(events)
      .withColumn("prev", lag(dec2(col("close")), 1).over(byDay))
      .withColumn("dir",
        when(col("prev").isNull, 0L)
          .when(dec2(col("close")) > col("prev"), 1L)
          .when(dec2(col("close")) < col("prev"), -1L)
          .otherwise(0L))
      .withColumn("obv", sum(col("dir") * col("volume")).over(cum))
      .select(col("user_id"), col("day"), col("close"), col("volume"), col("obv"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Maximum drawdown per key: largest peak-to-trough loss ratio of
    * the daily close series (running peak via unbounded-preceding
    * window max — one pass, no self-join). Zero/negative peaks have
    * no defined drawdown (guarded, not an ANSI error).
    */
  def drawdown(events: DataFrame): DataFrame = {
    val w = byDay
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    closes(events)
      .withColumn("peak", max(col("close")).over(w))
      .withColumn("dd", when(col("peak") > 0,
        round(lit(1.0) - col("close") / col("peak"), 6) + lit(0.0)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"), max(col("dd")).as("max_drawdown"))
      .orderBy(col("user_id"))
  }

  /** Calmar ratio per key: arithmetic-annualized mean daily return
    * (mean × 252, the [[sharpe]] convention — no compounding `pow`,
    * whose libm variance SURVEY §5 bans) divided by the maximum
    * drawdown. Rides the same closes-family shuffle as both inputs;
    * the return mean is an exact-decimal sum with one double
    * division at the end, the drawdown the 6-dp-rounded fraction
    * [[drawdown]] already emits. Keys that never draw down (or have
    * fewer than 2 closes) carry a NULL ratio rather than an ANSI
    * division error.
    */
  def calmar(events: DataFrame): DataFrame = {
    val rets = returns(events)
      .select(col("user_id"), dec6(col("ret")).as("r"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"))
    val dd = drawdown(events).select(col("user_id"), col("max_drawdown"))
    // LEFT from the drawdown side: dd covers every key with ≥1 close,
    // so a single-close key (no returns row) still gets its output
    // row — n = 0, NULL ratio — instead of vanishing from the panel.
    dd.join(rets, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("n"), lit(0L)).as("n"), col("max_drawdown"),
        when(col("max_drawdown") > 0 && col("n") > 0,
          round(col("sr").cast("double") / col("n").cast("double")
            * lit(252.0) / col("max_drawdown"), 6) + lit(0.0)).as("calmar"))
      .orderBy(col("user_id"))
  }

  /** Lag-1 autocorrelation of daily returns per instrument — the
    * mean-reversion/momentum diagnostic (negative → reverting,
    * positive → trending). Same exact-decimal moment discipline as
    * [[corrPairs]], over (ret, lag(ret)) pairs on the one
    * closes-family shuffle; constant or too-short series have no
    * defined autocorrelation.
    */
  def autocorr(events: DataFrame, lagK: Int = 1): DataFrame = {
    returns(events)
      .withColumn("ret_lag", lag(col("ret"), lagK).over(byDay))
      .filter(col("ret_lag").isNotNull)
      .select(col("user_id"), dec6(col("ret")).as("x"), dec6(col("ret_lag")).as("y"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"))
      .filter(col("n") > 1)
      .select(col("user_id"), col("n"),
        pearson(col("n"), col("sx"), col("sy"), col("sxy"), col("sx2"), col("sy2")).as("autocorr1"))
      .orderBy(col("user_id"))
  }

  /** Higher statistical moments per event_type — mean, population
    * variance, skewness, excess kurtosis — from EXACT decimal power
    * sums Σx..Σx⁴ (one map-side-combined aggregation; the shuffle
    * carries 4 decimals + a count per type). Powers stay inside
    * DECIMAL(38): x² downcasts to (18,4) losslessly before the
    * higher products, the same trick as the TPC-H Q1 charge column.
    * Only the final moment formulas run in doubles, in an op order
    * the oracle mirrors token-for-token.
    */
  def moments(events: DataFrame): DataFrame = {
    val v = dec2(col("value"))
    // The (18,4) downcast keeps v⁴ at (37,8) inside DECIMAL(38) but is
    // lossless only for |value| < 1e7. Outside that domain Spark's
    // non-ANSI cast would silently null the row (while the DuckDB
    // oracle errors) — so out-of-domain input fails loudly instead.
    val v2 = when(abs(v) < lit(10000000),
        (v * v).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      .otherwise(raise_error(concat(
        lit("moments: |value| >= 1e7 overflows the lossless (18,4) square: "),
        col("value").cast("string"))))
    events.filter(col("value").isNotNull)
      .select(col("event_type"), v.as("v"), v2.as("v2"),
        (v2 * v).as("v3"), (v2 * v2).as("v4"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"), sum(col("v2")).as("s2"),
        sum(col("v3")).as("s3"), sum(col("v4")).as("s4"))
      .select(col("event_type"), col("n"), {
        val n = col("n").cast("double")
        val mu = col("s1").cast("double") / n
        val m2 = col("s2").cast("double") / n - mu * mu
        val m3 = (col("s3").cast("double") / n - lit(3.0) * mu * (col("s2").cast("double") / n)
          + lit(2.0) * mu * mu * mu)
        val m4 = (col("s4").cast("double") / n - lit(4.0) * mu * (col("s3").cast("double") / n)
          + lit(6.0) * mu * mu * (col("s2").cast("double") / n) - lit(3.0) * mu * mu * mu * mu)
        struct(
          (round(mu, 6) + lit(0.0)).as("mean"),
          (round(m2, 6) + lit(0.0)).as("variance"),
          when(m2 > 0.0, round(m3 / sqrt(m2 * m2 * m2), 6) + lit(0.0)).as("skewness"),
          when(m2 > 0.0, round(m4 / (m2 * m2) - lit(3.0), 6) + lit(0.0)).as("kurtosis_excess"))
          .as("m")
      })
      .select(col("event_type"), col("n"), col("m.mean").as("mean"),
        col("m.variance").as("variance"), col("m.skewness").as("skewness"),
        col("m.kurtosis_excess").as("kurtosis_excess"))
      .orderBy(col("event_type"))
  }

  /** Group-mean over (weekday, hour) — the seasonality profile from
    * plot_cyclical_feature_engineering.py's groupby-mean plots.
    * Exact decimal sums; output is 7×24 rows regardless of input
    * size (perfectly partial-aggregatable).
    */
  def weekdayHourMean(events: DataFrame): DataFrame =
    events
      .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"), col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"), avgExact(col("value")).as("mean_value"))
      .orderBy(col("dow"), col("hour"))

  /** Decile assignment of each day's close within its instrument —
    * ntile over the (close, day)-total order. SQL-standard ntile
    * (floor split, remainder to the leading buckets) is
    * engine-identical given a total order, so this is fully oracled.
    * One closes-family shuffle.
    */
  def ntileDeciles(events: DataFrame, n: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("close"), col("day"))
    closes(events)
      .withColumn("decile", ntile(n).over(w).cast("long"))
      .select(col("user_id"), col("day"), col("close"), col("decile"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Per-key min-max scaling of value to [0, 1] — the reference's
    * target-scaling step, distributed: one shuffle on the key, the
    * extrema computed by whole-partition window (no self-join), null
    * when the key is constant.
    */
  def scaleValues(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("vmin", min(col("value")).over(w))
      .withColumn("vmax", max(col("value")).over(w))
      .withColumn("scaled",
        when(col("vmax") > col("vmin"),
          round((col("value") - col("vmin")) / (col("vmax") - col("vmin")), 6) + lit(0.0)))
      .select(col("event_id"), col("user_id"), col("value"), col("scaled"))
      .orderBy(col("event_id"))
  }

  /** Truncated adjusted-EWMA weights (1−α)^j for α = 0.2 — EXACT
    * decimals ((0.8)^j has j fractional digits; scale 10 covers
    * span 10), shared verbatim with the DuckDB oracle literals so
    * both engines weight with the same exact rationals.
    */
  val ewmaSpan = 10
  lazy val ewmaWeightStrings: Seq[String] =
    (0 until ewmaSpan).map(j =>
      java.math.BigDecimal.valueOf(8, 1).pow(j).setScale(10).toPlainString)

  /** Exponentially weighted moving average of the daily close
    * (span-10 truncated, adjust=true normalization: ewma =
    * Σ wⱼ·x_{t−j} / Σ wⱼ over the available lags). The recursive
    * EWMA definition is inherently sequential; the truncated form is
    * a fixed linear combination of 10 lags — pure window algebra, one
    * shuffle on user_id (shared with the whole closes family), and
    * the tail it drops is bounded by 0.8¹⁰ ≈ 10.7% of total weight.
    *
    * Parity: weights are exact decimals ([[ewmaWeightStrings]]),
    * products/sums are exact decimal arithmetic, and only the final
    * num/den division runs in (correctly-rounded, engine-identical)
    * doubles before the 6-decimal output round.
    */
  def ewma(events: DataFrame): DataFrame = {
    val c = closes(events)
    val terms = ewmaWeightStrings.zipWithIndex.map { case (ws, j) =>
      val x = if (j == 0) dec2(col("close")) else lag(dec2(col("close")), j).over(byDay)
      (x, lit(ws).cast(org.apache.spark.sql.types.DecimalType(12, 10)))
    }
    val num = terms.map { case (x, w) => coalesce(x * w, lit(0).cast("decimal(25,12)")) }.reduce(_ + _)
    val den = terms.map { case (x, w) => when(x.isNotNull, w).otherwise(lit(0).cast("decimal(12,10)")) }.reduce(_ + _)
    c.withColumn("ewma10", round(num.cast("double") / den.cast("double"), 6) + lit(0.0))
      .select(col("user_id"), col("day"), col("close"), col("ewma10"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Exact truncated-EWMA weight literals (1−α)^j, shared verbatim
    * with the oracle SQL. `oneMinusAlphaTenths` is (1−α)·10 — only
    * terminating decimals are allowed, so the j-th power has exactly
    * j fractional digits and `scale` digits always suffice.
    */
  def ewmaWeights(oneMinusAlphaTenths: Int, span: Int, scale: Int): Seq[String] =
    (0 until span).map(j =>
      java.math.BigDecimal.valueOf(oneMinusAlphaTenths.toLong, 1).pow(j).setScale(scale).toPlainString)

  /** MACD spans/weights: fast = α 0.2 truncated at 10 lags (the same
    * series [[ewma]] publishes), slow = α 0.1 truncated at 12 lags
    * (scale 11 keeps the 12-term exact-decimal sum inside
    * DECIMAL(38) on both engines). Truncation drops 0.8¹⁰ ≈ 10.7% /
    * 0.9¹² ≈ 28% of total weight, but the adjusted normalization
    * (divide by the sum of INCLUDED weights) keeps both unbiased.
    */
  val macdFastWeights: Seq[String] = ewmaWeights(8, 10, 10)
  val macdSlowWeights: Seq[String] = ewmaWeights(9, 12, 11)

  /** MACD momentum: fast truncated EWMA minus slow truncated EWMA of
    * the daily close. Both EWMAs are fixed linear combinations of
    * lagged closes with EXACT decimal weights ([[macdFastWeights]] /
    * [[macdSlowWeights]]) — pure window algebra over the one
    * closes-family shuffle; only the final num/den divisions and the
    * subtraction run in doubles, and the subtraction uses the
    * ROUNDED fast/slow values so both engines replay it identically.
    */
  def macd(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def ewmaOf(ws: Seq[String], wScale: Int): Column = {
      val pScale = wScale + 2
      val terms = ws.zipWithIndex.map { case (w, j) =>
        val x = if (j == 0) dec2(col("close")) else lag(dec2(col("close")), j).over(byDay)
        (x, lit(w).cast(DecimalType(wScale + 2, wScale)))
      }
      val num = terms.map { case (x, w) =>
        coalesce(x * w, lit(0).cast(DecimalType(pScale + 13, pScale))) }.reduce(_ + _)
      val den = terms.map { case (x, w) =>
        when(x.isNotNull, w).otherwise(lit(0).cast(DecimalType(wScale + 2, wScale))) }.reduce(_ + _)
      round(num.cast("double") / den.cast("double"), 6) + lit(0.0)
    }
    closes(events)
      .withColumn("ewma_fast", ewmaOf(macdFastWeights, 10))
      .withColumn("ewma_slow", ewmaOf(macdSlowWeights, 11))
      .withColumn("macd", round(col("ewma_fast") - col("ewma_slow"), 6) + lit(0.0))
      .select(col("user_id"), col("day"), col("close"),
        col("ewma_fast"), col("ewma_slow"), col("macd"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Trailing 7-CALENDAR-DAY close sum/count per key — a RANGE frame
    * over event time, not a ROWS frame over positions: when the
    * series has calendar gaps (this data does), "last 7 days" and
    * "last 7 rows" genuinely differ, and a time-window metric must
    * use the former. The frame is ordered by exact epoch DAY counts
    * (datediff from 1970-01-01 — timezone-proof, unlike epoch
    * seconds), so both engines bound the window with integer
    * comparisons; the sum is exact decimal.
    */
  def rangeDaySum(events: DataFrame, days: Int = 7): DataFrame = {
    // ordered by epoch DAY COUNT, not epoch seconds: date→timestamp
    // goes through the session timezone, where a DST transition makes
    // one calendar day 90000 s and an 86400-multiple RANGE bound
    // silently drops it; datediff is timezone-proof
    val w = Window.partitionBy(col("user_id"))
      .orderBy(datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      .rangeBetween(-(days - 1).toLong, 0L)
    closes(events)
      .withColumn("sum7", outD(sum(dec2(col("close"))).over(w), 2))
      .withColumn("n7", count(lit(1)).over(w).cast("long"))
      .select(col("user_id"), col("day"), col("close"), col("sum7"), col("n7"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Calendar resample with forward fill: a dense daily spine per
    * key (min→max observed day) left-joined to the close series, gaps
    * filled with the last known close — the reference's
    * fill-missing-trading-days step, done set-wise. The spine is
    * generated from each key's per-key bounds (sequence + explode),
    * so spine size is keys × span — never a global calendar cross
    * join; the fill is a running last-non-null window over the same
    * (user_id → day) partitioning the closes family already uses.
    */
  def resampleFfill(events: DataFrame): DataFrame = {
    val c = closes(events)
    val spine = c.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = byDay
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(c, Seq("user_id", "day"), "left")
      .withColumn("close_filled", last(col("close"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"), col("close_filled"), col("close").isNull.as("is_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Exact distributed quantiles (p50/p90/p99 of value per
    * event_type) via two-pass histogram rank selection. Target ranks
    * ⌈q·n⌉ use integer arithmetic (no float q·n — engines disagree on
    * ceil(0.9·n) at ulp boundaries).
    *
    * Scale shape (this replaced a `Window.partitionBy(event_type)`
    * global sort, which serialized the whole fact table into
    * #event_types partitions):
    *  - pass 1 histograms values into `histBuckets` per-type buckets —
    *    a map-side-combined aggregation whose shuffle carries only
    *    (types × non-empty buckets) rows, never the facts;
    *  - cumulative bucket counts (tiny) locate the bucket holding
    *    each target rank;
    *  - pass 2 rescans, keeps only rows of the ≤ 3 located buckets
    *    per type (≈ n/histBuckets of the data), and picks the row
    *    whose within-bucket rank matches the target offset.
    * No full-data shuffle at all: the facts are scanned three times
    * (type stats, histogram, located-bucket rescan) and sorted
    * never. Selection is exact for any distribution because the
    * bucket function is monotone in value and ties (equal values)
    * land in one bucket: global rank = cum_before + in-bucket rank.
    */
  def valueQuantiles(events: DataFrame, histBuckets: Int = 8192): DataFrame = {
    // NULL values carry no rank: drop them up front (matching the
    // streaming sketch's filter) so n counts ranked rows only and an
    // all-NULL group is absent from the output rather than silently
    // losing its row in the bucket equi-join.
    val base = events.select(col("event_type"), col("event_id"), col("value"))
      .filter(col("value").isNotNull)
    val stats = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    // One shared bucket expression so both passes compute the exact
    // same double arithmetic (and therefore the same bucket) per row.
    def bucketCol: Column =
      when(col("vmax") > col("vmin"),
        least(floor((col("value") - col("vmin")) / ((col("vmax") - col("vmin")) / histBuckets)),
          lit((histBuckets - 1).toLong)))
        .otherwise(lit(0L))
    val hist = base.join(broadcast(stats), "event_type")
      .withColumn("bucket", bucketCol)
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cum_before", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    val targets = stats.select(col("event_type"),
        explode(array(
          struct(lit("p50").as("which"), expr("(n + 1) DIV 2").as("target")),
          struct(lit("p90").as("which"), expr("(9 * n + 9) DIV 10").as("target")),
          struct(lit("p99").as("which"), expr("(99 * n + 99) DIV 100").as("target")))).as("t"))
      .select(col("event_type"), col("t.which").as("which"), col("t.target").as("target"))
    val located = targets.join(cum, Seq("event_type"))
      .filter(col("target") > col("cum_before") && col("target") <= col("cum_before") + col("cnt"))
      .select(col("event_type"), col("which"), col("target"), col("bucket"), col("cum_before"))
    val wIn = Window.partitionBy(col("event_type"), col("bucket"), col("which"))
      .orderBy(col("value"), col("event_id"))
    base.join(broadcast(stats), "event_type")
      .withColumn("bucket", bucketCol)
      .join(broadcast(located), Seq("event_type", "bucket"))
      .withColumn("rn", row_number().over(wIn).cast("long"))
      .filter(col("rn") === col("target") - col("cum_before"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("which") === "p50", col("value"))).as("p50"),
        max(when(col("which") === "p90", col("value"))).as("p90"),
        max(when(col("which") === "p99", col("value"))).as("p99"))
      .orderBy(col("event_type"))
  }

  /** The wide per-(user_id, day) feature snapshot — the reference's
    * `financialData` table shape (sql/sqlrequests.sql: one row per
    * company holding fiftyDayAverage, fiftyTwoWeekHigh/Low, beta, …)
    * assembled as ONE composed pipeline instead of N separate
    * queries: close, ma5/ma20, rolling hi/lo 10, daily return,
    * rolling 20-day volatility and beta-vs-market, running drawdown.
    *
    * Scale shape: every metric is a window over the SAME
    * (user_id → order by day) partitioning, so the whole wide row
    * costs one shuffle of the closes series; the market return
    * series (one row per day, bounded) broadcasts back. No
    * metric-by-metric self-joins — the plan has a single Exchange on
    * user_id plus the tiny market aggregation.
    */
  def featureSnapshot(events: DataFrame): DataFrame = {
    val c = closes(events)
    val marketRet = marketReturns(c)
    val w5 = trailing(5)
    val w10 = trailing(10)
    val w20 = trailing(20)
    val wPeak = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val retv = col("ret").isNotNull
    val pairv = retv && col("mret").isNotNull
    val r6 = dec6(col("ret"))
    val m6 = dec6(col("mret"))
    val snap = c.join(broadcast(marketRet), "day")
      .withColumn("prev_close", lag(col("close"), 1).over(byDay))
      .withColumn("ret", when(returnDefined(col("prev_close")), dailyReturn(col("prev_close"))))
      .withColumn("ma5", sum(dec2(col("close"))).over(w5).cast("double") / count(lit(1)).over(w5))
      .withColumn("ma20", sum(dec2(col("close"))).over(w20).cast("double") / count(lit(1)).over(w20))
      // volume family (averageVolume / averageVolume10days analogs,
      // reference sql/sqlrequests.sql:60-108): exact integer sums,
      // one correctly-rounded double division
      .withColumn("avg_vol10", sum(col("volume")).over(w10).cast("double") / count(lit(1)).over(w10))
      .withColumn("avg_vol20", sum(col("volume")).over(w20).cast("double") / count(lit(1)).over(w20))
      .withColumn("hi10", max(col("close")).over(w10))
      .withColumn("lo10", min(col("close")).over(w10))
      .withColumn("peak", max(col("close")).over(wPeak))
      .withColumn("nr", sum(when(retv, 1L).otherwise(0L)).over(w20))
      .withColumn("sr", sum(when(retv, r6)).over(w20))
      .withColumn("sr2", sum(when(retv, r6 * r6)).over(w20))
      .withColumn("np", sum(when(pairv, 1L).otherwise(0L)).over(w20))
      .withColumn("srp", sum(when(pairv, r6)).over(w20))
      .withColumn("smp", sum(when(pairv, m6)).over(w20))
      .withColumn("srmp", sum(when(pairv, r6 * m6)).over(w20))
      .withColumn("sm2p", sum(when(pairv, m6 * m6)).over(w20))
    snap.select(col("user_id"), col("day"), col("close"), col("ma5"), col("ma20"),
        col("volume"), col("avg_vol10"), col("avg_vol20"),
        col("hi10"), col("lo10"), col("ret"),
        when(col("peak") > 0, round(lit(1.0) - col("close") / col("peak"), 6) + lit(0.0)).as("drawdown"),
        when(col("nr") > 1, round(sampleStd(col("nr"), col("sr"), col("sr2")), 6) + lit(0.0)).as("vol20"),
        Exact.beta(col("np"), col("srp"), col("smp"), col("srmp"), col("sm2p"),
          given = Some(col("np") > 1)).as("beta20"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Approximate p50/p90/p99 per event_type via the custom mergeable
    * t-digest aggregate ([[graft.plans.TDigestQuantiles]]) — the ONE-
    * SCAN bounded-memory companion to [[valueQuantiles]]: partial
    * digests (≤ ~δ centroids) combine map-side and the shuffle moves
    * sketches, not values. Approximate and merge-order-sensitive →
    * rows-only gate; TDigestSpec asserts rank-error bounds vs exact.
    */
  def quantileSketch(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.plans.TDigestQuantiles(col("value"), Seq(0.5, 0.9, 0.99), 100.0).as("qs"))
      .select(col("event_type"), col("n"),
        col("qs")(0).as("p50_approx"), col("qs")(1).as("p90_approx"), col("qs")(2).as("p99_approx"))
      .orderBy(col("event_type"))

  /** Each event tagged with the most recent daily close at-or-before
    * its timestamp — a true AS-OF join, executed by the custom
    * sort-merge operator in [[graft.plans.AsOfJoin]] (single shuffle
    * per side, O(1) merge state). The set-wise form of the
    * reference's max(dateValue)/ORDER BY DESC point lookups.
    */
  def asofPrice(events: DataFrame): DataFrame = {
    val c = closes(events)
      .select(col("user_id").as("c_user_id"), col("day"),
        col("day").cast("timestamp").as("day_ts"), col("close"))
    val e = events.select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.plans.AsOf.join(e, c, "user_id", "c_user_id", "ts", "day_ts")
      .select(col("event_id"), col("user_id"), col("value"),
        col("day").as("close_day"), col("close"))
      .orderBy(col("event_id"))
  }

  /** Fact ⋈ dimension — the namesId → namesCompanies join
    * (findatabase.py `get_ticker_from_id` done set-wise). customer
    * scales with SF (150k×SF rows), so there is deliberately NO
    * broadcast() hint: AQE broadcasts it while it fits under the
    * threshold and falls back to a shuffled join once it doesn't.
    */
  /** The reference's wide `financialData` snapshot re-derived from
    * the OHLC facts (sqlrequests.sql:56-160, filled per (namesId,
    * today) by findatabase.py:174 `insert_info_from_web`): one row
    * per key at its LATEST bar date carrying every info metric the
    * bars determine — currentPrice/dayHigh/dayLow/volume (the last
    * bar), averageVolume (all-history), fiftyDayAverage /
    * twoHundredDayAverage (the fin_moving_avg exact-decimal ma
    * pattern), fiftyTwoWeekHigh/Low (252-bar extremes), and beta
    * (the fin_beta moments) — enriched with the company name
    * (namesCompanies join, fin_company_enrich-style). Externally
    * sourced fundamentals (ebitda, marketCap, …) arrive via
    * [[graft.sources.InfoDrop]] instead — they are not derivable
    * from bars.
    *
    * Scale shape: ONE fact shuffle — the bars input is pre-clustered
    * on hash(user_id), which satisfies every downstream requirement
    * (the (user_id, day) bar windows, the user_id analytics windows,
    * the final row_number pick), so EnsureRequirements adds no
    * second Exchange; the beta join is per-key aggregates against
    * per-key aggregates, and the customer join is a plain equi-join
    * AQE is free to broadcast at small SF but never forced to.
    */
  def infoSnapshot(events: DataFrame, customer: DataFrame): DataFrame = {
    val w50 = trailing(50)
    val w200 = trailing(200)
    val w252 = trailing(252)
    val wAll = Window.partitionBy(col("user_id"))
    val wDesc = Window.partitionBy(col("user_id")).orderBy(col("day").desc)
    val snap = barsCore(events.repartition(col("user_id")), "day")
      .withColumn("fifty_day_average",
        sum(dec2(col("close"))).over(w50).cast("double") / count(lit(1)).over(w50))
      .withColumn("two_hundred_day_average",
        sum(dec2(col("close"))).over(w200).cast("double") / count(lit(1)).over(w200))
      .withColumn("fifty_two_week_high", max(col("high")).over(w252))
      .withColumn("fifty_two_week_low", min(col("low")).over(w252))
      .withColumn("average_volume",
        sum(col("n_ticks")).over(wAll).cast("double") / count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
    snap
      .join(betaPerUser(events).select(col("user_id"), col("beta")), Seq("user_id"), "left")
      .join(customer.select(col("c_custkey"), col("c_name")), col("user_id") === col("c_custkey"))
      .select(col("user_id"), col("c_name"), col("day"),
        col("close").as("current_price"), col("open"),
        col("high").as("day_high"), col("low").as("day_low"),
        col("n_ticks").as("volume"), col("average_volume"),
        col("fifty_day_average"), col("two_hundred_day_average"),
        col("fifty_two_week_high"), col("fifty_two_week_low"), col("beta"))
      .orderBy(col("user_id"))
  }

  def companyEnrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"), col("value"))
      .orderBy(col("event_id"))
}
