package graft
package queries

import graft.operators._
import graft.sources.Tables
import OracleBlocks._

/** Financial analytics over `events` as a tick stream: bars, rolling
  * windows, risk ratios and the trained models (FinAnalytics, Ridge,
  * GradientBoost, CvEval). */
private[graft] object FinQueries extends Family {

  val queries: Seq[Query] = Seq(
    Query("fin_bollinger", (s, d) => FinAnalytics.bollinger(Tables(s, d).events), closesCte +
      s"""
        |, b AS (SELECT user_id, day, close,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    sum(CAST(close AS DECIMAL(12,2))) OVER w AS s,
        |    sum(CAST(close AS DECIMAL(12,2)) * CAST(close AS DECIMAL(12,2))) OVER w AS s2
        |  FROM closes
        |  WINDOW w AS (${trailing(20)})),
        |m AS (SELECT *, CAST(s AS DOUBLE) / n AS ma20,
        |    CASE WHEN n > 1 THEN round(${sampleStd("n", "s", "s2")}, 6) + 0.0 END AS std20
        |  FROM b),
        |u AS (SELECT *,
        |    CASE WHEN std20 IS NOT NULL THEN round(ma20 + 2.0 * std20, 6) + 0.0 END AS upper,
        |    CASE WHEN std20 IS NOT NULL THEN round(ma20 - 2.0 * std20, 6) + 0.0 END AS lower
        |  FROM m)
        |SELECT user_id, day, close, ma20, std20, upper, lower,
        |  CASE WHEN upper > lower THEN round((close - lower) / (upper - lower), 6) + 0.0 END AS pct_b
        |FROM u ORDER BY user_id, day""".stripMargin),
    Query("fin_rsi", (s, d) => FinAnalytics.rsi(Tables(s, d).events), closesCte +
      s"""
        |, d AS (SELECT user_id, day, close,
        |    CASE WHEN close > prev THEN CAST(round(close - prev, 6) AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS gain,
        |    CASE WHEN close < prev THEN CAST(round(prev - close, 6) AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS loss
        |  FROM (SELECT user_id, day, close,
        |          lag(close, 1) OVER ($byDay) AS prev FROM closes)
        |  WHERE prev IS NOT NULL),
        |s AS (SELECT user_id, day, close,
        |    sum(gain) OVER w AS sg, sum(loss) OVER w AS sl
        |  FROM d
        |  WINDOW w AS (${trailing(14)}))
        |SELECT user_id, day, close,
        |  CASE WHEN sl > 0 THEN round(100.0 - 100.0 / (1.0 + CAST(sg AS DOUBLE) / CAST(sl AS DOUBLE)), 6) + 0.0
        |       WHEN sg > 0 THEN 100.0 END AS rsi14
        |FROM s ORDER BY user_id, day""".stripMargin),
    Query("fin_vwap", (s, d) => FinAnalytics.vwap(Tables(s, d).events), closesCte +
      s"""
        |, v0 AS (SELECT user_id, day, close, volume,
        |    sum(CAST(close AS DECIMAL(12,2)) * volume) OVER w AS pv,
        |    sum(volume) OVER w AS v
        |  FROM closes
        |  WINDOW w AS (${trailing(10)})),
        |q AS (SELECT user_id, day, close, volume, CAST(pv * 100 AS BIGINT) AS pv2, v FROM v0)
        |SELECT user_id, day, close, CAST(volume AS BIGINT) AS volume,
        |  ${micros(halfUpDivSigned("pv2", "v", 10000))} AS vwap10
        |FROM q ORDER BY user_id, day""".stripMargin),
    Query("fin_stochastic", (s, d) => FinAnalytics.stochastic(Tables(s, d).events), closesCte +
      s"""
        |, hl AS (SELECT user_id, day, close,
        |    min(CAST(close AS DECIMAL(12,2))) OVER w AS lo,
        |    max(CAST(close AS DECIMAL(12,2))) OVER w AS hi
        |  FROM closes
        |  WINDOW w AS (${trailing(14)})),
        |k AS (SELECT user_id, day, close,
        |    CASE WHEN hi > lo THEN round(100.0 * CAST(CAST(close AS DECIMAL(12,2)) - lo AS DOUBLE)
        |      / CAST(hi - lo AS DOUBLE), 6) + 0.0 END AS pct_k
        |  FROM hl),
        |kk AS (SELECT user_id, day, close, pct_k,
        |    lag(pct_k, 1) OVER ($byDay) AS k1,
        |    lag(pct_k, 2) OVER ($byDay) AS k2
        |  FROM k)
        |SELECT user_id, day, close, pct_k,
        |  CASE WHEN pct_k IS NOT NULL AND k1 IS NOT NULL AND k2 IS NOT NULL
        |       THEN round((pct_k + k1 + k2) / 3.0, 6) + 0.0 END AS pct_d
        |FROM kk ORDER BY user_id, day""".stripMargin),
    Query("fin_obv", (s, d) => FinAnalytics.obv(Tables(s, d).events), closesCte +
      s"""
        |, d AS (SELECT user_id, day, close, volume,
        |    lag(CAST(close AS DECIMAL(12,2)), 1) OVER ($byDay) AS prev
        |  FROM closes),
        |s AS (SELECT user_id, day, close, volume,
        |    CASE WHEN prev IS NULL THEN 0
        |         WHEN CAST(close AS DECIMAL(12,2)) > prev THEN 1
        |         WHEN CAST(close AS DECIMAL(12,2)) < prev THEN -1 ELSE 0 END AS dir
        |  FROM d)
        |SELECT user_id, day, close, CAST(volume AS BIGINT) AS volume,
        |  CAST(sum(dir * volume) OVER ($byDay ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
        |FROM s ORDER BY user_id, day""".stripMargin),
    Query("fin_atr", (s, d) => FinAnalytics.atr(Tables(s, d).events),
      s"""WITH o AS (
        |  SELECT user_id, day,
        |    max(value) AS high, min(value) AS low,
        |    max(CASE WHEN rn_d = 1 THEN value END) AS close
        |  FROM (
        |    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
        |           row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                              ORDER BY ts DESC, event_id DESC) AS rn_d
        |    FROM events)
        |  GROUP BY user_id, day),
        |p AS (SELECT user_id, day,
        |    CAST(high AS DECIMAL(12,2)) AS h, CAST(low AS DECIMAL(12,2)) AS l,
        |    lag(CAST(close AS DECIMAL(12,2)), 1) OVER ($byDay) AS pc
        |  FROM o),
        |t AS (SELECT user_id, day, greatest(h - l, abs(h - pc), abs(l - pc)) AS tr
        |  FROM p WHERE pc IS NOT NULL),
        |a AS (SELECT user_id, day, tr,
        |    CAST(sum(tr) OVER w * 100 AS BIGINT) AS s2,
        |    CAST(count(*) OVER w AS BIGINT) AS n
        |  FROM t
        |  WINDOW w AS (${trailing(14)}))
        |SELECT user_id, day, CAST(tr AS DOUBLE) + 0.0 AS tr,
        |  ${ratio6("s2", "n", 10000)} AS atr14
        |FROM a ORDER BY user_id, day""".stripMargin),
    Query("fin_macd", (s, d) => FinAnalytics.macd(Tables(s, d).events), macdOracle),
    Query("fin_moments", (s, d) => FinAnalytics.moments(Tables(s, d).events),
      """WITH p AS (SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
        |    CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(19,4)) AS v2
        |  FROM events WHERE value IS NOT NULL),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(v) AS s1, sum(v2) AS s2, sum(v2 * v) AS s3, sum(v2 * v2) AS s4
        |  FROM p GROUP BY event_type),
        |m AS (SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM s),
        |f AS (SELECT event_type, n, mu,
        |    e2 - mu * mu AS m2,
        |    e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu AS m3,
        |    e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2 - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m)
        |SELECT event_type, n, round(mu, 6) + 0.0 AS mean,
        |  round(m2, 6) + 0.0 AS variance,
        |  CASE WHEN m2 > 0.0 THEN round(m3 / sqrt(m2 * m2 * m2), 6) + 0.0 END AS skewness,
        |  CASE WHEN m2 > 0.0 THEN round(m4 / (m2 * m2) - 3.0, 6) + 0.0 END AS kurtosis_excess
        |FROM f ORDER BY event_type""".stripMargin),
    Query("fin_autocorr", (s, d) => FinAnalytics.autocorr(Tables(s, d).events), closesCte +
      s"""
        |, $returnsCte,
        |p0 AS (SELECT user_id, ret, lag(ret) OVER ($byDay) AS retl FROM rets),
        |p AS (SELECT user_id, ${dec6("ret")} AS x, ${dec6("retl")} AS y
        |  FROM p0 WHERE retl IS NOT NULL),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sx2, sum(y * y) AS sy2
        |  FROM p GROUP BY user_id)
        |SELECT user_id, n, ${pearson("n", "sx", "sy", "sxy", "sx2", "sy2")} AS autocorr1
        |FROM m WHERE n > 1 ORDER BY user_id""".stripMargin),
    Query("fin_ohlc_unpivot", (s, d) => FinAnalytics.ohlcUnpivot(Tables(s, d).events),
      s"""WITH ohlc AS (${ohlcBars("day")})
        |SELECT user_id, day, metric, value FROM (
        |  SELECT user_id, day, 'open' AS metric, open AS value FROM ohlc
        |  UNION ALL SELECT user_id, day, 'high', high FROM ohlc
        |  UNION ALL SELECT user_id, day, 'low', low FROM ohlc
        |  UNION ALL SELECT user_id, day, 'close', close FROM ohlc)
        |ORDER BY user_id, day, metric""".stripMargin),
    Query("fin_rolling_median", (s, d) => FinAnalytics.rollingMedian(Tables(s, d).events), closesCte +
      s"""
        |, m AS (SELECT user_id, day, close,
        |    list_sort(list(close) OVER w) AS vals,
        |    CAST(count(*) OVER w AS BIGINT) AS n
        |  FROM closes
        |  WINDOW w AS (${trailing(5)}))
        |SELECT user_id, day, close, vals[(n + 1) // 2] AS med
        |FROM m ORDER BY user_id, day""".stripMargin),
    Query("fin_corr_pairs", (s, d) => FinAnalytics.corrPairs(Tables(s, d).events), closesCte +
      s"""
        |, $returnsCte,
        |top AS (SELECT user_id FROM events GROUP BY user_id ORDER BY count(*) DESC, user_id LIMIT 20),
        |sel AS (SELECT user_id, day, ${dec6("ret")} AS r FROM rets JOIN top USING (user_id)),
        |m AS (SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS n,
        |        sum(a.r) AS s1, sum(b.r) AS s2, sum(a.r * b.r) AS s12,
        |        sum(a.r * a.r) AS s11, sum(b.r * b.r) AS s22
        |      FROM sel a JOIN sel b ON a.day = b.day AND a.user_id < b.user_id
        |      GROUP BY 1, 2)
        |SELECT u1, u2, CAST(n AS BIGINT) AS n, ${pearson("n", "s1", "s2", "s12", "s11", "s22")} AS corr
        |FROM m WHERE n > 1 ORDER BY u1, u2""".stripMargin),
    Query("fin_resample_ffill", (s, d) => FinAnalytics.resampleFfill(Tables(s, d).events), closesCte +
      s"""
        |, b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM closes GROUP BY user_id),
        |spine AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |j AS (SELECT s.user_id, s.day, c.close
        |      FROM spine s LEFT JOIN closes c ON c.user_id = s.user_id AND c.day = s.day)
        |SELECT user_id, day,
        |  last_value(close IGNORE NULLS) OVER ($byDay ROWS UNBOUNDED PRECEDING) AS close_filled,
        |  close IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin),
    Query("fin_range_day_sum", (s, d) => FinAnalytics.rangeDaySum(Tables(s, d).events), closesCte +
      """
        |SELECT user_id, day, close,
        |  CAST(round(sum(CAST(close AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE) + 0.0 AS sum7,
        |  CAST(count(*) OVER w AS BIGINT) AS n7
        |FROM closes
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin),
    Query("fin_daily_ohlc", (s, d) => FinAnalytics.dailyOhlc(Tables(s, d).events),
      s"${ohlcBars("day")} ORDER BY user_id, day"),
    Query("fin_weekly_ohlc", (s, d) => FinAnalytics.ohlcBars(Tables(s, d).events, "week"),
      s"${ohlcBars("week")} ORDER BY user_id, week"),
    Query("fin_monthly_ohlc", (s, d) => FinAnalytics.ohlcBars(Tables(s, d).events, "month"),
      s"${ohlcBars("month")} ORDER BY user_id, month"),
    Query("fin_drawdown", (s, d) => FinAnalytics.drawdown(Tables(s, d).events), closesCte +
      s"""
        |, dd AS (SELECT user_id,
        |    CASE WHEN peak > 0 THEN round(1.0 - close / peak, 6) + 0.0 END AS dd
        |  FROM (SELECT user_id, close,
        |          max(close) OVER ($byDay ROWS UNBOUNDED PRECEDING) AS peak
        |        FROM closes))
        |SELECT user_id, count(*) AS n_days, max(dd) AS max_drawdown
        |FROM dd GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("fin_moving_avg", (s, d) => FinAnalytics.movingAvg(Tables(s, d).events), closesCte +
      s"""
        |SELECT user_id, day, close,
        |  CAST(sum(CAST(close AS DECIMAL(12,2))) OVER w5 AS DOUBLE) / count(*) OVER w5 AS ma5,
        |  CAST(sum(CAST(close AS DECIMAL(12,2))) OVER w20 AS DOUBLE) / count(*) OVER w20 AS ma20
        |FROM closes
        |WINDOW w5 AS (${trailing(5)}),
        |       w20 AS (${trailing(20)})
        |ORDER BY user_id, day""".stripMargin),
    Query("fin_rolling_hilo", (s, d) => FinAnalytics.rollingHiLo(Tables(s, d).events), closesCte +
      s"""
        |SELECT user_id, day, close,
        |  max(close) OVER w AS rolling_high, min(close) OVER w AS rolling_low
        |FROM closes
        |WINDOW w AS (${trailing(10)})
        |ORDER BY user_id, day""".stripMargin),
    Query("fin_returns", (s, d) => FinAnalytics.returns(Tables(s, d).events), closesCte +
      s"""
        |, $returnsCte
        |SELECT user_id, day, close, ret FROM rets ORDER BY user_id, day""".stripMargin),
    Query("fin_volatility", (s, d) => FinAnalytics.volatility(Tables(s, d).events), closesCte +
      s"""
        |, $returnsCte,
        |m AS (SELECT user_id, count(*) AS n, sum(r) AS sr, sum(r * r) AS sr2
        |  FROM (SELECT user_id, ${dec6("ret")} AS r FROM rets) GROUP BY user_id)
        |SELECT user_id, n, round(${sampleStd("n", "sr", "sr2")}, 6) + 0.0 AS volatility
        |FROM m WHERE n > 1 ORDER BY user_id""".stripMargin),
    Query("fin_sharpe", (s, d) => FinAnalytics.sharpe(Tables(s, d).events), closesCte +
      s"""
        |, $returnsCte,
        |d AS (SELECT user_id, ${dec6("ret")} AS r, ${dec6("least(ret, 0.0)")} AS dn FROM rets),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    sum(r) AS sr, sum(r * r) AS sr2, sum(dn * dn) AS sd2
        |  FROM d GROUP BY user_id),
        |f AS (SELECT user_id, n,
        |    CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    ${sampleStd("n", "sr", "sr2")} AS std,
        |    sqrt(CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE)) AS down
        |  FROM m WHERE n > 1)
        |SELECT user_id, n,
        |  CASE WHEN std > 0.0 THEN round(mean / std * sqrt(252.0), 6) + 0.0 END AS sharpe,
        |  CASE WHEN down > 0.0 THEN round(mean / down * sqrt(252.0), 6) + 0.0 END AS sortino
        |FROM f ORDER BY user_id""".stripMargin),
    Query("fin_calmar", (s, d) => FinAnalytics.calmar(Tables(s, d).events), closesCte +
      s"""
        |, $returnsCte,
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, sum(${dec6("ret")}) AS sr FROM rets GROUP BY user_id),
        |dd AS (SELECT user_id, max(d) AS max_drawdown FROM (
        |  SELECT user_id,
        |         CASE WHEN peak > 0 THEN round(1.0 - close / peak, 6) + 0.0 END AS d
        |  FROM (SELECT user_id, close,
        |          max(close) OVER ($byDay ROWS UNBOUNDED PRECEDING) AS peak
        |        FROM closes)) GROUP BY user_id)
        |SELECT dd.user_id, CAST(coalesce(n, 0) AS BIGINT) AS n, max_drawdown,
        |       CASE WHEN max_drawdown > 0 AND n > 0
        |            THEN round(CAST(sr AS DOUBLE) / n * 252.0 / max_drawdown, 6) + 0.0 END AS calmar
        |FROM dd LEFT JOIN m ON m.user_id = dd.user_id ORDER BY dd.user_id""".stripMargin),
    Query("fin_info_ratio", (s, d) => FinAnalytics.infoRatio(Tables(s, d).events), closesCte +
      s"""
        |, $matchedReturns,
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, sum(a) AS sa, sum(a * a) AS sa2
        |  FROM (SELECT user_id, ${dec6("ret")} - ${dec6("mret")} AS a FROM matched) GROUP BY user_id),
        |f AS (SELECT user_id, n, sa, ${sampleStd("n", "sa", "sa2")} AS std FROM m WHERE n > 1)
        |SELECT user_id, n,
        |  CASE WHEN std > 0.0 THEN round(CAST(sa AS DOUBLE) / n / std * sqrt(252.0), 6) + 0.0 END AS info_ratio
        |FROM f ORDER BY user_id""".stripMargin),
    Query("fin_var_es", (s, d) => FinAnalytics.varEs(Tables(s, d).events), closesCte +
      s"""
        |, $returnsCte,
        |r2 AS (SELECT user_id, ret,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ret, day) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM rets),
        |v AS (SELECT user_id, ret, n,
        |    max(CASE WHEN rn = (n * 5 + 99) // 100 THEN ret END)
        |      OVER (PARTITION BY user_id) AS var_ret
        |  FROM r2),
        |g AS (SELECT user_id, max(n) AS n, max(var_ret) AS var_ret,
        |    sum(CASE WHEN ret <= var_ret THEN ${dec6("ret")} END) AS tail_sum,
        |    CAST(count(CASE WHEN ret <= var_ret THEN 1 END) AS BIGINT) AS tail_n
        |  FROM v GROUP BY user_id)
        |SELECT user_id, n, var_ret,
        |  round(CAST(tail_sum AS DOUBLE) / CAST(tail_n AS DOUBLE), 6) + 0.0 AS es
        |FROM g WHERE n > 1 ORDER BY user_id""".stripMargin),
    Query("fin_beta", (s, d) => FinAnalytics.beta(Tables(s, d).events), closesCte +
      s"""
        |, $matchedReturns,
        |$betas
        |SELECT user_id, n, beta FROM betas ORDER BY user_id""".stripMargin),
    Query("fin_cyclical_features", (s, d) => FinAnalytics.cyclicalFeatures(Tables(s, d).events),
      """SELECT event_id, date_part('hour', ts) AS hour, date_part('dow', ts) AS dow,
        |  date_part('month', ts) AS month,
        |  round(sin(date_part('hour', ts) * (2 * pi() / 24)), 6) + 0.0 AS hour_sin,
        |  round(cos(date_part('hour', ts) * (2 * pi() / 24)), 6) + 0.0 AS hour_cos,
        |  round(sin(date_part('dow', ts) * (2 * pi() / 7)), 6) + 0.0 AS dow_sin,
        |  round(cos(date_part('dow', ts) * (2 * pi() / 7)), 6) + 0.0 AS dow_cos,
        |  round(sin(date_part('month', ts) * (2 * pi() / 12)), 6) + 0.0 AS month_sin,
        |  round(cos(date_part('month', ts) * (2 * pi() / 12)), 6) + 0.0 AS month_cos
        |FROM events ORDER BY event_id""".stripMargin),
    // Full oracles: Gram sums are exact decimals, and the pivot-free
    // SPD solve is a fixed IEEE op sequence the oracle unrolls as a
    // CTE chain -> coefficients (hence predictions and the CV
    // metrics) replay bit-identically in DuckDB.
    Query("fin_ridge_gram", (s, d) => Ridge.gram(Tables(s, d).events), ridgeGramOracle),
    Query("fin_ridge", (s, d) => Ridge.predict(Tables(s, d).events), ridgePredictOracle),
    // integer-units histogram GBM: the boosting loop replays as an
    // unrolled CTE chain (gbtOracle) -> full oracle since round 9
    Query("fin_gbt", (s, d) => GradientBoost.predict(Tables(s, d).events), gbtOracle()),
    // fold sizes scaled to the smallest gate SF like curate_time_split
    Query("fin_cv_eval", (s, d) => CvEval.ridgeCv(Tables(s, d).events,
      nSplits = 5, gap = 48, maxTrainSize = 400, testSize = 100), cvEvalOracle),
    Query("fin_company_enrich", (s, d) => { val t = Tables(s, d); FinAnalytics.companyEnrich(t.events, t.customer) },
      """SELECT event_id, user_id, c_name, c_mktsegment, value
        |FROM events JOIN customer ON user_id = c_custkey ORDER BY event_id""".stripMargin),
    Query("fin_feature_snapshot", (s, d) => FinAnalytics.featureSnapshot(Tables(s, d).events), closesCte +
      s"""
        |, $marketCtes,
        |b1 AS (SELECT c.user_id, c.day, c.close, c.volume, m.mret,
        |              lag(c.close, 1) OVER ($byDay) AS prev_close
        |       FROM closes c JOIN mret m USING (day)),
        |b2 AS (SELECT *, CASE WHEN ${returnDefined("prev_close")} THEN ${dailyReturn("prev_close")} END AS ret FROM b1),
        |b3 AS (SELECT *,
        |         CASE WHEN ret IS NOT NULL THEN ${dec6("ret")} END AS r6,
        |         CASE WHEN ret IS NOT NULL AND mret IS NOT NULL THEN ${dec6("ret")} END AS pr,
        |         CASE WHEN ret IS NOT NULL AND mret IS NOT NULL THEN ${dec6("mret")} END AS pm
        |       FROM b2),
        |wins AS (SELECT user_id, day, close, ret, volume,
        |    CAST(sum(CAST(close AS DECIMAL(12,2))) OVER w5 AS DOUBLE) / count(*) OVER w5 AS ma5,
        |    CAST(sum(CAST(close AS DECIMAL(12,2))) OVER w20 AS DOUBLE) / count(*) OVER w20 AS ma20,
        |    CAST(sum(volume) OVER w10 AS DOUBLE) / count(*) OVER w10 AS avg_vol10,
        |    CAST(sum(volume) OVER w20 AS DOUBLE) / count(*) OVER w20 AS avg_vol20,
        |    max(close) OVER w10 AS hi10, min(close) OVER w10 AS lo10,
        |    max(close) OVER wpk AS peak,
        |    count(r6) OVER w20 AS nr, sum(r6) OVER w20 AS sr, sum(r6 * r6) OVER w20 AS sr2,
        |    count(pr) OVER w20 AS np, sum(pr) OVER w20 AS srp, sum(pm) OVER w20 AS smp,
        |    sum(pr * pm) OVER w20 AS srmp, sum(pm * pm) OVER w20 AS sm2p
        |  FROM b3
        |  WINDOW w5 AS (${trailing(5)}),
        |         w10 AS (${trailing(10)}),
        |         w20 AS (${trailing(20)}),
        |         wpk AS ($byDay ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, day, close, ma5, ma20, volume, avg_vol10, avg_vol20, hi10, lo10, ret,
        |  CASE WHEN peak > 0 THEN round(1.0 - close / peak, 6) + 0.0 END AS drawdown,
        |  CASE WHEN nr > 1 THEN round(${sampleStd("nr", "sr", "sr2")}, 6) + 0.0 END AS vol20,
        |  CASE WHEN np > 1 THEN ${beta("np", "srp", "smp", "srmp", "sm2p")} END AS beta20
        |FROM wins ORDER BY user_id, day""".stripMargin),
    // financialData-shaped wide snapshot at the latest bar: the ma
    // family replays fin_moving_avg's exact-decimal pattern, the
    // extremes are exact, average_volume is one double division of
    // exact integer sums, and beta reuses fin_beta's moments CTEs.
    Query("fin_info_snapshot", (s, d) => { val t = Tables(s, d); FinAnalytics.infoSnapshot(t.events, t.customer) }, closesCte +
      s"""
        |, bars AS (${ohlcBars("day")}),
        |snap AS (
        |  SELECT user_id, day, open, high, low, close, n_ticks,
        |    CAST(sum(CAST(close AS DECIMAL(12,2))) OVER w50 AS DOUBLE) / count(*) OVER w50 AS fifty_day_average,
        |    CAST(sum(CAST(close AS DECIMAL(12,2))) OVER w200 AS DOUBLE) / count(*) OVER w200 AS two_hundred_day_average,
        |    max(high) OVER w252 AS fifty_two_week_high,
        |    min(low) OVER w252 AS fifty_two_week_low,
        |    CAST(sum(n_ticks) OVER wa AS DOUBLE) / count(*) OVER wa AS average_volume,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
        |  FROM bars
        |  WINDOW w50 AS (${trailing(50)}),
        |         w200 AS (${trailing(200)}),
        |         w252 AS (${trailing(252)}),
        |         wa AS (PARTITION BY user_id)),
        |$matchedReturns,
        |$betas
        |SELECT s.user_id, c.c_name, s.day, s.close AS current_price, s.open,
        |  s.high AS day_high, s.low AS day_low, s.n_ticks AS volume,
        |  s.average_volume, s.fifty_day_average, s.two_hundred_day_average,
        |  s.fifty_two_week_high, s.fifty_two_week_low, b.beta
        |FROM snap s LEFT JOIN betas b ON b.user_id = s.user_id
        |JOIN customer c ON c.c_custkey = s.user_id
        |WHERE s.rn = 1 ORDER BY s.user_id""".stripMargin),
    Query("fin_spline_features", (s, d) => FinAnalytics.splineFeatures(Tables(s, d).events), splineOracle),
    Query("fin_ntile_deciles", (s, d) => FinAnalytics.ntileDeciles(Tables(s, d).events), closesCte +
      """
        |SELECT user_id, day, close,
        |  CAST(ntile(10) OVER (PARTITION BY user_id ORDER BY close, day) AS BIGINT) AS decile
        |FROM closes ORDER BY user_id, day""".stripMargin),
    Query("fin_ewma", (s, d) => FinAnalytics.ewma(Tables(s, d).events), ewmaOracle),
    Query("fin_quantiles", (s, d) => FinAnalytics.valueQuantiles(Tables(s, d).events),
      s"""WITH r AS (SELECT event_type, value,
        |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS rn,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |FROM events WHERE value IS NOT NULL)
        |SELECT event_type, $quantiles
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    // approximate sketch, merge-order-sensitive -> rows-only gate
    Query.rowsOnly("fin_quantiles_sketch", (s, d) => FinAnalytics.quantileSketch(Tables(s, d).events)),
    Query("fin_weekday_hour_mean", (s, d) => FinAnalytics.weekdayHourMean(Tables(s, d).events),
      """SELECT date_part('dow', ts) AS dow, date_part('hour', ts) AS hour, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS mean_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("fin_scale_values", (s, d) => FinAnalytics.scaleValues(Tables(s, d).events),
      """SELECT event_id, user_id, value,
        |  CASE WHEN vmax > vmin THEN round((value - vmin) / (vmax - vmin), 6) + 0.0 END AS scaled
        |FROM (SELECT event_id, user_id, value,
        |        min(value) OVER (PARTITION BY user_id) AS vmin,
        |        max(value) OVER (PARTITION BY user_id) AS vmax
        |      FROM events) ORDER BY event_id""".stripMargin),
    Query("fin_asof_price", (s, d) => FinAnalytics.asofPrice(Tables(s, d).events), closesCte +
      """
        |, c AS (SELECT user_id, day, CAST(day AS TIMESTAMP) AS day_ts, close FROM closes)
        |SELECT e.event_id, e.user_id, e.value, c.day AS close_day, c.close
        |FROM events e ASOF LEFT JOIN c
        |  ON e.user_id = c.user_id AND e.ts >= c.day_ts
        |ORDER BY e.event_id""".stripMargin),
  )

  /** The market series over `closes` (FinAnalytics.marketReturns):
    * the summed close `market(day, mkt_value)` and its return
    * `mret(day, mret)`, null where the previous value is missing or
    * zero.
    */
  private val marketCtes: String =
    """market AS (SELECT day, sum(CAST(close AS DECIMAL(12,2))) AS mkt_value FROM closes GROUP BY day),
      |mret AS (SELECT day, CASE WHEN prev IS NOT NULL AND prev <> 0
      |                          THEN CAST(mkt_value AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0 END AS mret
      |         FROM (SELECT day, mkt_value, lag(mkt_value, 1) OVER (ORDER BY day) AS prev FROM market))""".stripMargin

  /** [[marketCtes]], the users' `rets` and
    * `matched(user_id, day, ret, mret)`: each user's daily return
    * next to the market's defined return of the same day
    * (FinAnalytics.matchedReturns).
    */
  private val matchedReturns: String =
    s"""$marketCtes,
       |$returnsCte,
       |matched AS (SELECT user_id, day, ret, mret FROM rets JOIN mret USING (day) WHERE mret IS NOT NULL)""".stripMargin

  /** Each user's beta against the market over [[matchedReturns]] from
    * exact-decimal moments (FinAnalytics.beta): `betas(user_id, n,
    * beta)` for users with more than one joint return.
    */
  private val betas: String =
    s"""moments AS (SELECT user_id, count(*) AS n, sum(r) AS sr, sum(m) AS sm, sum(r * m) AS srm, sum(m * m) AS sm2
       |  FROM (SELECT user_id, ${dec6("ret")} AS r, ${dec6("mret")} AS m FROM matched) GROUP BY user_id),
       |betas AS (SELECT user_id, n, ${beta("n", "sr", "sm", "srm", "sm2")} AS beta FROM moments WHERE n > 1)""".stripMargin

  /** Per-user OHLC bars at calendar `unit` (FinAnalytics.ohlcBars):
    * (user_id, <unit>, open, high, low, close, n_ticks), open and
    * close being the first and last tick by (ts, event_id).
    */
  private def ohlcBars(unit: String): String =
    s"""SELECT user_id, $unit,
       |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
       |  max(value) AS high, min(value) AS low,
       |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
       |  count(*) AS n_ticks
       |FROM (
       |  SELECT user_id, CAST(date_trunc('$unit', ts) AS DATE) AS $unit, value,
       |         row_number() OVER (PARTITION BY user_id, CAST(date_trunc('$unit', ts) AS DATE)
       |                            ORDER BY ts, event_id) AS rn_a,
       |         row_number() OVER (PARTITION BY user_id, CAST(date_trunc('$unit', ts) AS DATE)
       |                            ORDER BY ts DESC, event_id DESC) AS rn_d
       |  FROM events)
       |GROUP BY user_id, $unit""".stripMargin

  /** fin_spline_features oracle — generated with the IDENTICAL
    * operation order as FinAnalytics.splineFeatures so every double
    * matches bit-for-bit before the round(…,6) belt-and-braces.
    */
  private def splineOracle: String = {
    val basis = (0 until 12).map { j =>
      val u = s"(((date_part('hour', ts) / 2.0 - $j.0) % 12.0 + 12.0) % 12.0)"
      s"""round(CASE WHEN $u < 1.0 THEN $u * $u * $u / 6.0
         |    WHEN $u < 2.0 THEN (-3.0 * $u * $u * $u + 12.0 * $u * $u - 12.0 * $u + 4.0) / 6.0
         |    WHEN $u < 3.0 THEN (3.0 * $u * $u * $u - 24.0 * $u * $u + 60.0 * $u - 44.0) / 6.0
         |    WHEN $u < 4.0 THEN (4.0 - $u) * (4.0 - $u) * (4.0 - $u) / 6.0
         |    ELSE 0.0 END, 6) + 0.0 AS spline_h${"%02d".format(j)}""".stripMargin
    }
    s"""SELECT event_id, date_part('hour', ts) AS hour,
       |${basis.mkString(",\n")}
       |FROM events ORDER BY event_id""".stripMargin
  }

  /** fin_ewma oracle — generated from the SAME exact-decimal weight
    * literals the operator uses ([[operators.FinAnalytics.ewmaWeightStrings]])
    * with the identical term order, so products/sums replay exactly.
    */
  private def ewmaOracle: String = {
    val ws = operators.FinAnalytics.ewmaWeightStrings
    val lags = ws.indices.map { j =>
      if (j == 0) "CAST(close AS DECIMAL(12,2)) AS c0"
      else s"lag(CAST(close AS DECIMAL(12,2)), $j) OVER ($byDay) AS c$j"
    }.mkString(",\n    ")
    val num = ws.zipWithIndex.map { case (w, j) =>
      s"coalesce(c$j * CAST('$w' AS DECIMAL(12,10)), CAST(0 AS DECIMAL(25,12)))"
    }.mkString("\n      + ")
    val den = ws.zipWithIndex.map { case (w, j) =>
      s"CASE WHEN c$j IS NOT NULL THEN CAST('$w' AS DECIMAL(12,10)) ELSE CAST(0 AS DECIMAL(12,10)) END"
    }.mkString("\n      + ")
    closesCte + s"""
, lagged AS (SELECT user_id, day, close,
    $lags
  FROM closes)
SELECT user_id, day, close,
  round(CAST($num AS DOUBLE)
    / CAST($den AS DOUBLE), 6) + 0.0 AS ewma10
FROM lagged ORDER BY user_id, day"""
  }

  /** fin_macd oracle — both truncated EWMAs generated from the SAME
    * exact-decimal weight literals the operator uses
    * ([[operators.FinAnalytics.macdFastWeights]]/[[operators.FinAnalytics.macdSlowWeights]])
    * with identical term order and decimal types, so the exact sums
    * replay bit-for-bit before the double divisions.
    */
  private def macdOracle: String = {
    val fast = operators.FinAnalytics.macdFastWeights
    val slow = operators.FinAnalytics.macdSlowWeights
    val nLags = fast.length max slow.length
    val lags = (0 until nLags).map { j =>
      if (j == 0) "CAST(close AS DECIMAL(12,2)) AS c0"
      else s"lag(CAST(close AS DECIMAL(12,2)), $j) OVER ($byDay) AS c$j"
    }.mkString(",\n    ")
    def numDen(ws: Seq[String], wScale: Int): (String, String) = {
      val wPrec = wScale + 2
      val pScale = wScale + 2
      val pPrec = pScale + 13
      val num = ws.zipWithIndex.map { case (w, j) =>
        s"coalesce(c$j * CAST('$w' AS DECIMAL($wPrec,$wScale)), CAST(0 AS DECIMAL($pPrec,$pScale)))"
      }.mkString("\n      + ")
      val den = ws.zipWithIndex.map { case (w, j) =>
        s"CASE WHEN c$j IS NOT NULL THEN CAST('$w' AS DECIMAL($wPrec,$wScale)) ELSE CAST(0 AS DECIMAL($wPrec,$wScale)) END"
      }.mkString("\n      + ")
      (num, den)
    }
    val (nf, df) = numDen(fast, 10)
    val (ns, ds) = numDen(slow, 11)
    closesCte + s"""
, lagged AS (SELECT user_id, day, close,
    $lags
  FROM closes),
e AS (SELECT user_id, day, close,
  round(CAST($nf AS DOUBLE)
    / CAST($df AS DOUBLE), 6) + 0.0 AS ewma_fast,
  round(CAST($ns AS DOUBLE)
    / CAST($ds AS DOUBLE), 6) + 0.0 AS ewma_slow
  FROM lagged)
SELECT user_id, day, close, ewma_fast, ewma_slow,
  round(ewma_fast - ewma_slow, 6) + 0.0 AS macd
FROM e ORDER BY user_id, day"""
  }

  /** fin_ridge_gram oracle — the 36 upper-triangle Σ zᵢzⱼ sums over
    * the intercept-augmented DECIMAL(18,6) vector, generated with the
    * identical quantization as [[operators.Ridge.gram]].
    */
  private def ridgeGramOracle: String = {
    val zDefs = Seq(
      "CAST(1.0 AS DECIMAL(18,6)) AS z0",
      "CAST(round(sin(date_part('hour', ts) * (2 * pi() / 24)), 6) AS DECIMAL(18,6)) AS z1",
      "CAST(round(cos(date_part('hour', ts) * (2 * pi() / 24)), 6) AS DECIMAL(18,6)) AS z2",
      "CAST(round(sin(date_part('dow', ts) * (2 * pi() / 7)), 6) AS DECIMAL(18,6)) AS z3",
      "CAST(round(cos(date_part('dow', ts) * (2 * pi() / 7)), 6) AS DECIMAL(18,6)) AS z4",
      "CAST(round(sin(date_part('month', ts) * (2 * pi() / 12)), 6) AS DECIMAL(18,6)) AS z5",
      "CAST(round(cos(date_part('month', ts) * (2 * pi() / 12)), 6) AS DECIMAL(18,6)) AS z6",
      "CAST(round(value, 6) AS DECIMAL(18,6)) AS z7")
    val pairs = for { i <- 0 until 8; j <- i until 8 } yield (i, j)
    val sums = pairs.map { case (i, j) => s"sum(z$i * z$j) AS s_${i}_$j" }
    // the VARCHAR round-trip forces a correctly-rounded decimal→double
    // (DuckDB's direct CAST divides int128/10¹² in floating point and
    // double-rounds once the unscaled value exceeds 2⁵³; Spark's
    // BigDecimal.doubleValue rounds correctly)
    val rows = pairs.map { case (i, j) =>
      s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, " +
        s"CAST(CAST(round(s_${i}_$j, 12) AS VARCHAR) AS DOUBLE) + 0.0 AS s FROM g"
    }
    s"""WITH z AS (SELECT ${zDefs.mkString(", ")} FROM events WHERE value IS NOT NULL),
       |g AS (SELECT ${sums.mkString(", ")} FROM z)
       |${rows.mkString("\n UNION ALL ")}
       |ORDER BY i, j""".stripMargin
  }

  /** The z-vector CTE body shared by the ridge-family oracles —
    * identical quantization as [[operators.Ridge.zFrame]] (and
    * [[ridgeGramOracle]]), with event_id carried for fold joins.
    */
  private def ridgeZDefs: String = Seq(
    "event_id",
    "CAST(1.0 AS DECIMAL(18,6)) AS z0",
    "CAST(round(sin(date_part('hour', ts) * (2 * pi() / 24)), 6) AS DECIMAL(18,6)) AS z1",
    "CAST(round(cos(date_part('hour', ts) * (2 * pi() / 24)), 6) AS DECIMAL(18,6)) AS z2",
    "CAST(round(sin(date_part('dow', ts) * (2 * pi() / 7)), 6) AS DECIMAL(18,6)) AS z3",
    "CAST(round(cos(date_part('dow', ts) * (2 * pi() / 7)), 6) AS DECIMAL(18,6)) AS z4",
    "CAST(round(sin(date_part('month', ts) * (2 * pi() / 12)), 6) AS DECIMAL(18,6)) AS z5",
    "CAST(round(cos(date_part('month', ts) * (2 * pi() / 12)), 6) AS DECIMAL(18,6)) AS z6",
    "CAST(round(value, 6) AS DECIMAL(18,6)) AS z7").mkString(", ")

  /** fin_ridge oracle — Gram sums, the unrolled solve, and the
    * prediction/residual scan, all mirroring [[operators.Ridge]]
    * expression-for-expression.
    */
  private def ridgePredictOracle: String = {
    val pairs = for { i <- 0 until 8; j <- i until 8 } yield (i, j)
    val sums = pairs.map { case (i, j) => s"sum(z$i * z$j) AS s_${i}_$j" }
    s"""WITH z AS (SELECT $ridgeZDefs FROM events WHERE value IS NOT NULL),
       |g AS (SELECT ${sums.mkString(", ")} FROM z),
       |${ridgeSolveCtes("g", "1.0", Nil)},
       |p AS (SELECT event_id, CAST(z7 AS DOUBLE) + 0.0 AS value,
       |  round($ridgeYhat, 6) + 0.0 AS prediction FROM z CROSS JOIN bx0)
       |SELECT event_id, value, prediction,
       |  round(value - prediction, 6) + 0.0 AS residual
       |FROM p ORDER BY event_id""".stripMargin
  }

  /** fin_cv_eval oracle — TimeSeriesSplit fold membership, per-fold
    * Gram + unrolled solve (the elimination expressions run rowwise
    * over the one-row-per-fold frame), and the fold-tagged scoring
    * pass with exact-decimal MAE/RMSE sums, mirroring
    * [[operators.CvEval.ridgeCv]] (nSplits=5, gap=48,
    * maxTrainSize=400, testSize=100, alpha=1.0 — the registered
    * parameters).
    */
  private def cvEvalOracle: String = {
    val pairs = for { i <- 0 until 8; j <- i until 8 } yield (i, j)
    val sums = pairs.map { case (i, j) => s"sum(z$i * z$j) AS s_${i}_$j" }
    s"""WITH r AS (SELECT event_id,
       |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) - 1 AS idx
       |  FROM events),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
       |foldids AS (SELECT CAST(unnest(range(5)) AS BIGINT) AS fold),
       |fj AS (SELECT fold, event_id, idx, n - (5 - fold) * 100 AS test_start
       |       FROM r CROSS JOIN nn CROSS JOIN foldids),
       |members AS (SELECT fold, event_id,
       |    CASE WHEN idx >= test_start AND idx < test_start + 100 THEN 'test'
       |         WHEN idx < test_start - 48 AND idx >= greatest(0, test_start - 48 - 400) THEN 'train'
       |    END AS role
       |  FROM fj
       |  WHERE (idx >= test_start AND idx < test_start + 100)
       |     OR (idx < test_start - 48 AND idx >= greatest(0, test_start - 48 - 400))),
       |z AS (SELECT $ridgeZDefs FROM events WHERE value IS NOT NULL),
       |g AS (SELECT fold, ${sums.mkString(", ")}
       |      FROM z JOIN members USING (event_id) WHERE role = 'train' GROUP BY fold),
       |${ridgeSolveCtes("g", "1.0", Seq("fold"))},
       |scored AS (SELECT fold,
       |    CAST(round(CAST(z7 AS DOUBLE) - (round($ridgeYhat, 6)), 6) AS DECIMAL(18,6)) AS residual
       |  FROM z JOIN members USING (event_id) JOIN bx0 USING (fold) WHERE role = 'test'),
       |agg AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(abs(residual)) * 1000000 AS BIGINT) AS sum_abs_u,
       |    round(sqrt(CAST(CAST(sum(residual * residual) AS VARCHAR) AS DOUBLE) / count(*)), 6) + 0.0 AS rmse
       |  FROM scored GROUP BY fold)
       |SELECT fold, n_test,
       |  ${ratio6("sum_abs_u", "n_test", 1)} AS mae,
       |  rmse
       |FROM agg ORDER BY fold""".stripMargin
  }

  /** fin_gbt oracle — the ann_kmeans unroll technique applied to the
    * boosting loop of [[operators.GradientBoost]] (iters=10, lr=0.1 —
    * the registered defaults). Everything lives on the 1e-6 integer
    * grid: `cells` carries Σ dec6(y) as BIGINT units, `p0` seeds the
    * half-up base score, and each round t computes the per-(feature,
    * bin) residual marginals (`mg`), the cumulative split statistics
    * (`sp`), the winning stump + half-up leaf values (`best` — score
    * doubles are built from Long-ranged sums with correctly-rounded
    * casts and ordered DESC with (fidx, thr) tiebreak = the Scala
    * first-strict-max iteration order), and the updated per-cell
    * integer prediction (`p{t}`). Absent-bin thresholds can never win
    * (they tie the previous present threshold's score, and ties keep
    * the earlier one), so cumulating over PRESENT bins only is exact.
    */
  /** Unrolled boosting replay for the fin_gbt gate. `iters` is
    * threaded, but the learning rate is BAKED IN: the leaf-value
    * CTEs below encode lr = 0.1 as the `10 *` denominators of the
    * half-up rational division (lr·s/n on the integer-unit grid is
    * the half-up s / (10·n)).
    * If fin_gbt is ever registered with a non-default lr, thread
    * lrNum/lrDen through here the way `iters` is — a mismatched
    * oracle fails the hash gate with no hint otherwise.
    */
  private def gbtOracle(iters: Int = 10): String = {
    val header =
      s"""WITH feat AS MATERIALIZED (
         |  SELECT event_id, CAST(date_part('hour', ts) AS INT) AS hour,
         |         CAST(date_part('dow', ts) AS INT) AS dow,
         |         CAST(date_part('month', ts) AS INT) AS month,
         |         CAST(value AS DOUBLE) AS y
         |  FROM events WHERE value IS NOT NULL),
         |cells AS (
         |  SELECT hour, dow, month,
         |         CAST(sum(CAST(round(y, 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS syu,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM feat GROUP BY 1, 2, 3),
         |tot AS (SELECT sum(syu) AS sy, sum(n) AS nn FROM cells),
         |p0 AS MATERIALIZED (SELECT c.hour, c.dow, c.month, c.syu, c.n,
         |    CAST(${halfUpDivSigned("t.sy", "t.nn")} AS BIGINT) AS pu
         |  FROM cells c CROSS JOIN tot t)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""mg$t AS (SELECT fidx, bin, sum(syu - pu * n) AS s, sum(n) AS nb FROM (
         |    SELECT 0 AS fidx, hour AS bin, syu, pu, n FROM p${t - 1}
         |    UNION ALL SELECT 1, dow, syu, pu, n FROM p${t - 1}
         |    UNION ALL SELECT 2, month, syu, pu, n FROM p${t - 1})
         |  GROUP BY 1, 2),
         |sp$t AS (SELECT fidx, bin AS thr,
         |    sum(s) OVER w AS sl, sum(nb) OVER w AS nl,
         |    sum(s) OVER f AS st, sum(nb) OVER f AS nt
         |  FROM mg$t
         |  WINDOW w AS (PARTITION BY fidx ORDER BY bin ROWS UNBOUNDED PRECEDING),
         |         f AS (PARTITION BY fidx)),
         |best$t AS (SELECT fidx, thr,
         |    CAST(${halfUpDivSigned("sl", "10 * nl")} AS BIGINT) AS lv,
         |    CAST(${halfUpDivSigned("st - sl", "10 * (nt - nl)")} AS BIGINT) AS rv
         |  FROM sp$t WHERE nl > 0 AND nt - nl > 0
         |  ORDER BY CAST(CAST(sl AS BIGINT) AS DOUBLE) * CAST(CAST(sl AS BIGINT) AS DOUBLE) / CAST(nl AS DOUBLE)
         |         + CAST(CAST(st - sl AS BIGINT) AS DOUBLE) * CAST(CAST(st - sl AS BIGINT) AS DOUBLE) / CAST(nt - nl AS DOUBLE) DESC,
         |    fidx, thr
         |  LIMIT 1),
         |p$t AS MATERIALIZED (SELECT p.hour, p.dow, p.month, p.syu, p.n,
         |    p.pu + CASE WHEN (CASE b.fidx WHEN 0 THEN p.hour WHEN 1 THEN p.dow ELSE p.month END) <= b.thr
         |                THEN b.lv ELSE b.rv END AS pu
         |  FROM p${t - 1} p CROSS JOIN best$t b)""".stripMargin
    }
    val fin =
      s"""SELECT f.event_id, f.y AS value,
         |  CAST(p.pu AS DOUBLE) / 1000000.0 AS prediction,
         |  round(f.y - CAST(p.pu AS DOUBLE) / 1000000.0, 6) + 0.0 AS residual
         |FROM feat f JOIN p$iters p
         |  ON p.hour = f.hour AND p.dow = f.dow AND p.month = f.month
         |ORDER BY f.event_id""".stripMargin
    (Seq(header) ++ rounds).mkString(",\n") + "\n" + fin
  }
}
