package graft
package queries

import graft.operators._
import graft.sources.Tables
import OracleBlocks._

/** Event analytics: sessions, funnels, cohorts, quantiles, heaps and
  * grouping sets (Events). */
private[graft] object EventsQueries extends Family {

  val queries: Seq[Query] = Seq(
    Query("events_rfm", (s, d) => Events.rfm(Tables(s, d).events),
      """WITH per AS (SELECT user_id, max(CAST(date_trunc('day', ts) AS DATE)) AS last_day,
        |    CAST(count(*) AS BIGINT) AS frequency, sum(CAST(value AS DECIMAL(12,2))) AS mon
        |  FROM events GROUP BY user_id),
        |g AS (SELECT max(last_day) AS anchor_day, sum(frequency) AS total_events,
        |    sum(mon) AS total_mon, count(*) AS n_users FROM per),
        |s AS (SELECT user_id, frequency, mon,
        |    CAST(date_diff('day', last_day, anchor_day) AS BIGINT) AS recency_days,
        |    CAST(total_events AS DOUBLE) / CAST(n_users AS DOUBLE) AS avg_f,
        |    CAST(total_mon AS DOUBLE) / CAST(n_users AS DOUBLE) AS avg_m
        |  FROM per CROSS JOIN g),
        |sc AS (SELECT user_id, recency_days, frequency, mon,
        |    CASE WHEN recency_days <= 3 THEN 3 WHEN recency_days <= 10 THEN 2 ELSE 1 END AS r_score,
        |    CASE WHEN CAST(frequency AS DOUBLE) >= 2.0 * avg_f THEN 3
        |         WHEN CAST(frequency AS DOUBLE) >= avg_f THEN 2 ELSE 1 END AS f_score,
        |    CASE WHEN CAST(mon AS DOUBLE) >= 2.0 * avg_m THEN 3
        |         WHEN CAST(mon AS DOUBLE) >= avg_m THEN 2 ELSE 1 END AS m_score
        |  FROM s)
        |SELECT user_id, recency_days, frequency,
        |  CAST(round(mon, 2) AS DOUBLE) + 0.0 AS monetary,
        |  CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CASE WHEN r_score = 3 AND f_score >= 2 AND m_score >= 2 THEN 'champion'
        |       WHEN r_score >= 2 AND f_score >= 2 THEN 'loyal'
        |       WHEN r_score = 1 AND f_score >= 2 THEN 'at_risk'
        |       WHEN r_score >= 2 THEN 'new'
        |       ELSE 'dormant' END AS segment
        |FROM sc ORDER BY user_id""".stripMargin),
    Query("events_transitions", (s, d) => Events.transitions(Tables(s, d).events),
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) + 0.0 AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin),
    Query("events_json_props", (s, d) => Events.jsonProps(Tables(s, d).events),
      """WITH k AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(count(k) AS BIGINT) AS n_k,
        |  min(k) AS k_min, max(k) AS k_max, CAST(sum(k) AS BIGINT) AS k_sum,
        |  CASE WHEN count(k) > 0 THEN CAST(sum(k) AS DOUBLE) / CAST(count(k) AS DOUBLE) + 0.0 END AS k_mean
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("events_gap_quantiles", (s, d) => Events.gapQuantiles(Tables(s, d).events),
      s"""WITH g AS (SELECT event_type, event_id,
        |    CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE) AS value
        |  FROM events),
        |r AS (SELECT event_type, value, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g WHERE value IS NOT NULL)
        |SELECT event_type, $quantiles
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    // session-duration quantiles: the sessionize CTE chain feeding
    // the exact rank selection (quantile = exact rank element, so
    // the oracle's global row_number equals Spark's two-pass
    // histogram selection value-for-value)
    Query("events_session_quantiles", (s, d) => Events.sessionQuantiles(Tables(s, d).events),
      s"""WITH $sessions,
        |d AS (SELECT user_id * 4294967296 + session_id AS event_id,
        |        CAST(epoch(max(tsec)) - epoch(min(tsec)) AS DOUBLE) AS value
        |      FROM s GROUP BY user_id, session_id),
        |r AS (SELECT value, event_id,
        |        CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT) AS rn,
        |        CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM d WHERE value IS NOT NULL)
        |SELECT 'session' AS event_type, $quantiles
        |FROM r GROUP BY 1""".stripMargin),
    Query("events_anomaly", (s, d) => Events.anomalies(Tables(s, d).events),
      s"""WITH b AS (SELECT event_id, user_id, value,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(12,2))) OVER w AS s,
        |    sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) OVER w AS s2
        |  FROM events WHERE value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |m AS (SELECT *, CAST(s AS DOUBLE) / n AS mean,
        |    CASE WHEN n > 1 THEN round(${sampleStd("n", "s", "s2")}, 6) + 0.0 END AS sd
        |  FROM b),
        |z AS (SELECT *, CASE WHEN sd > 0.0
        |    THEN round((value - mean) / sd, 6) + 0.0 END AS zscore FROM m)
        |SELECT event_id, user_id, value, zscore,
        |  coalesce(abs(zscore) > 3.0, FALSE) AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin),
    Query("events_session_paths", (s, d) => Events.sessionPaths(Tables(s, d).events),
      s"""WITH $sessions,
        |p AS (SELECT user_id, session_id,
        |        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |      FROM s GROUP BY user_id, session_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin),
    Query("events_winsorize", (s, d) => Events.winsorize(Tables(s, d).events),
      """WITH r AS (SELECT event_type, value,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL),
        |q AS (SELECT event_type,
        |    max(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
        |  FROM r GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  least(e.value, q.p99) AS value_w, e.value > q.p99 AS clipped
        |FROM events e JOIN q USING (event_type)
        |WHERE e.value IS NOT NULL ORDER BY e.event_id""".stripMargin),
    Query("events_cohort", (s, d) => Events.cohortRetention(Tables(s, d).events),
      """WITH weeks AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |fw AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id),
        |c AS (SELECT cohort_week,
        |        CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
        |        CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
        |      FROM weeks w JOIN fw ON fw.user_id = w.user_id
        |      GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |  CAST(n_users AS DOUBLE) /
        |  CAST(max(CASE WHEN week_offset = 0 THEN n_users END)
        |       OVER (PARTITION BY cohort_week) AS DOUBLE) + 0.0 AS retention
        |FROM c ORDER BY cohort_week, week_offset""".stripMargin),
    Query("events_attribution", (s, d) => Events.attribution(Tables(s, d).events),
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id AS c_user_id, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, p.value, p.ts, c.click_id, c.c_ts
        |      FROM p ASOF LEFT JOIN c ON p.user_id = c.c_user_id AND p.ts >= c.c_ts)
        |SELECT event_id, user_id, value,
        |  CASE WHEN c_ts IS NOT NULL AND c_ts >= ts - INTERVAL 1 HOUR THEN click_id END AS click_id,
        |  CASE WHEN c_ts IS NOT NULL AND c_ts >= ts - INTERVAL 1 HOUR
        |       THEN epoch_us(ts) - epoch_us(c_ts) END AS lag_us
        |FROM j ORDER BY event_id""".stripMargin),
    Query("events_sessionize", (s, d) => Events.sessionize(Tables(s, d).events),
      s"""WITH $sessions
        |SELECT user_id, session_id, count(*) AS n_events, min(tsec) AS start_ts, max(tsec) AS end_ts,
        |       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0 AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    Query("events_debounce", (s, d) => Events.debounce(Tables(s, d).events),
      """WITH e AS (SELECT user_id, event_id, event_type,
        |        CAST(date_trunc('second', ts) AS TIMESTAMP) AS tsec FROM events),
        |f AS (SELECT user_id, event_type, event_id, tsec,
        |        CASE WHEN prev IS NULL OR tsec > prev + INTERVAL 300 SECOND THEN 1 ELSE 0 END AS new_burst
        |      FROM (SELECT *, lag(tsec) OVER (PARTITION BY user_id, event_type ORDER BY tsec, event_id) AS prev FROM e)),
        |s AS (SELECT *, CAST(sum(new_burst) OVER (PARTITION BY user_id, event_type ORDER BY tsec, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst_id FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type, burst_id ORDER BY tsec, event_id) AS rn,
        |             count(*) OVER (PARTITION BY user_id, event_type, burst_id) AS cnt FROM s)
        |SELECT user_id, event_type, burst_id, event_id AS keeper_id, tsec AS start_ts,
        |       CAST(cnt - 1 AS BIGINT) AS n_suppressed
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type, burst_id""".stripMargin),
    Query("events_rolling_active", (s, d) => Events.rollingActive(Tables(s, d).events),
      """WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |c AS (SELECT user_id, day + CAST(x AS INTEGER) AS day FROM ud
        |      CROSS JOIN (SELECT unnest(range(7)) AS x)),
        |w AS (SELECT day, count(DISTINCT user_id) AS wau FROM c GROUP BY day),
        |d AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day)
        |SELECT d.day, dau, wau,
        |       round(CAST(dau AS DOUBLE) / wau, 6) + 0.0 AS stickiness
        |FROM d JOIN w ON d.day = w.day ORDER BY d.day""".stripMargin),
    Query("events_hourly_rollup", (s, d) => Events.hourlyRollup(Tables(s, d).events),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0 AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("top_parts_revenue", (s, d) => { val t = Tables(s, d); Events.topPartsRevenue(t.lineitem, t.part) },
      """SELECT p_brand, l_partkey, CAST(round(revenue, 2) AS DOUBLE) + 0.0 AS revenue, rank FROM (
        |  SELECT p_brand, l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS revenue,
        |    CAST(dense_rank() OVER (PARTITION BY p_brand
        |      ORDER BY sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) DESC,
        |      l_partkey) AS BIGINT) AS rank
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand, l_partkey)
        |WHERE rank <= 3 ORDER BY p_brand, rank, l_partkey""".stripMargin),
    Query("top_parts_heap", (s, d) => { val t = Tables(s, d); Events.topPartsHeap(t.lineitem, t.part) },
      """SELECT p_brand, l_partkey, CAST(round(revenue, 2) AS DOUBLE) + 0.0 AS revenue, rank FROM (
        |  SELECT p_brand, l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS revenue,
        |    CAST(row_number() OVER (PARTITION BY p_brand
        |      ORDER BY sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) DESC,
        |      l_partkey) AS BIGINT) AS rank
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand, l_partkey)
        |WHERE rank <= 3 ORDER BY p_brand, rank""".stripMargin),
    Query("top_users_heap", (s, d) => Events.topUsersHeap(Tables(s, d).events),
      """SELECT event_type, user_id, CAST(round(total, 2) AS DOUBLE) + 0.0 AS total_value, rank FROM (
        |  SELECT event_type, user_id, sum(CAST(value AS DECIMAL(12,2))) AS total,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY sum(CAST(value AS DECIMAL(12,2))) DESC, user_id) AS BIGINT) AS rank
        |  FROM events GROUP BY event_type, user_id
        |  HAVING sum(CAST(value AS DECIMAL(12,2))) IS NOT NULL)
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin),
    // HLL++ sketch differs across engines -> rows-only gate + error-bound spec
    Query.rowsOnly("events_approx_users", (s, d) => Events.approxUsers(Tables(s, d).events)),
    Query("events_rollup", (s, d) => Events.rollupTypeDay(Tables(s, d).events),
      """WITH t AS (SELECT event_type AS et, CAST(date_trunc('day', ts) AS DATE) AS d, value FROM events)
        |SELECT coalesce(et, 'ALL') AS event_type, coalesce(d, DATE '1900-01-01') AS day,
        |  CAST(grouping(et) AS BIGINT) AS g_type, CAST(grouping(d) AS BIGINT) AS g_day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0 AS total_value
        |FROM t GROUP BY ROLLUP(et, d) ORDER BY g_type, g_day, event_type, day""".stripMargin),
    Query("events_cube", (s, d) => Events.cubeTypeDow(Tables(s, d).events),
      """WITH t AS (SELECT event_type AS et, CAST(date_part('dow', ts) AS BIGINT) AS dw, value FROM events)
        |SELECT coalesce(et, 'ALL') AS event_type, coalesce(dw, -1) AS dow,
        |  CAST(grouping(et) AS BIGINT) AS g_type, CAST(grouping(dw) AS BIGINT) AS g_dow,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0 AS total_value
        |FROM t GROUP BY CUBE(et, dw) ORDER BY g_type, g_dow, event_type, dow""".stripMargin),
    Query("events_funnel", (s, d) => Events.funnel(Tables(s, d).events),
      """WITH e AS (SELECT user_id, event_id, event_type, date_trunc('second', ts) AS tsec FROM events),
        |v AS (SELECT *, count(CASE WHEN event_type = 'view' THEN 1 END) OVER
        |        (PARTITION BY user_id ORDER BY tsec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS views_before FROM e),
        |c AS (SELECT *, CASE WHEN event_type = 'click' AND views_before > 0 THEN 1 ELSE 0 END AS is_qclick FROM v),
        |p AS (SELECT *, coalesce(sum(is_qclick) OVER
        |        (PARTITION BY user_id ORDER BY tsec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS qclicks_before FROM c),
        |f AS (SELECT *, CASE WHEN event_type = 'purchase' AND qclicks_before > 0 THEN 1 ELSE 0 END AS is_qpurchase FROM p)
        |SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN tsec END) AS first_view,
        |  min(CASE WHEN is_qclick = 1 THEN tsec END) AS first_click,
        |  min(CASE WHEN is_qpurchase = 1 THEN tsec END) AS first_purchase,
        |  CAST(CASE WHEN min(CASE WHEN is_qpurchase = 1 THEN tsec END) IS NOT NULL THEN 3
        |       WHEN min(CASE WHEN is_qclick = 1 THEN tsec END) IS NOT NULL THEN 2
        |       WHEN min(CASE WHEN event_type = 'view' THEN tsec END) IS NOT NULL THEN 1
        |       ELSE 0 END AS BIGINT) AS stage
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("events_interval_join", (s, d) => Events.intervalJoin(Tables(s, d).events),
      """SELECT e.event_id, w.event_id AS win_id, e.user_id
        |FROM events e JOIN events w
        |  ON w.event_type = 'purchase' AND w.value > 250.0
        | AND e.ts >= date_trunc('second', w.ts)
        | AND e.ts < date_trunc('second', w.ts) + INTERVAL 2 DAY
        |ORDER BY e.event_id, win_id""".stripMargin),
    Query("events_type_pivot", (s, d) => Events.typePivot(Tables(s, d).events),
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("events_histogram", (s, d) => Events.histogram(Tables(s, d).events),
      """WITH mm AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |b AS (SELECT e.event_type,
        |    CASE WHEN hi > lo THEN least(CAST(floor((value - lo) / (hi - lo) * 20.0) AS BIGINT), 19)
        |         ELSE 0 END AS bin, lo, hi
        |  FROM events e JOIN mm USING (event_type) WHERE e.value IS NOT NULL),
        |g AS (SELECT event_type, bin, lo, hi, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY event_type, bin, lo, hi)
        |SELECT event_type, bin,
        |  round(lo + bin * (hi - lo) / 20.0, 6) + 0.0 AS bin_lo,
        |  round(lo + (bin + 1) * (hi - lo) / 20.0, 6) + 0.0 AS bin_hi, n
        |FROM g ORDER BY event_type, bin""".stripMargin),
  )

  /** The sessions of Events.sessionize: every event with its
    * second-truncated `tsec` and its per-user `session_id`, a new
    * session starting after a gap of more than 30 minutes, in
    * (ts, event_id) order. The CTEs up to `s`.
    */
  private def sessions: String =
    """e AS (SELECT *, CAST(date_trunc('second', ts) AS TIMESTAMP) AS tsec FROM events),
      |f AS (SELECT *, CASE WHEN prev IS NULL OR tsec > prev + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |      FROM (SELECT *, lag(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e)),
      |s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f)""".stripMargin
}
