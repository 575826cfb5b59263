package graft
package queries

import graft.operators._
import graft.sources.Tables

/** Table maintenance: incremental updates, retention, dedup by key,
  * SCD2, CDC and snapshot diffs (Maintenance). */
private[graft] object MaintenanceQueries extends Family {

  val queries: Seq[Query] = Seq(
    Query("maint_schema_union", (s, d) => Maintenance.schemaUnion(Tables(s, d).events),
      """WITH cut AS (SELECT date_trunc('second', max(ts)) - INTERVAL 2 DAY AS cutoff FROM events),
        |old AS (SELECT event_id, user_id, event_type, value
        |        FROM events CROSS JOIN cut WHERE ts < cutoff),
        |neu AS (SELECT event_id, user_id, event_type, value, props
        |        FROM events CROSS JOIN cut WHERE ts >= cutoff)
        |SELECT * FROM old UNION ALL BY NAME SELECT * FROM neu
        |ORDER BY event_id""".stripMargin),
    Query("maint_scd2_build", (s, d) => Maintenance.scd2Build(Tables(s, d).events),
      """WITH hist AS (
        |  SELECT user_id, day, value FROM (
        |    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
        |           row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |chg AS (SELECT user_id, day, value FROM (
        |  SELECT user_id, day, value,
        |         lag(value) OVER (PARTITION BY user_id ORDER BY day) AS pv,
        |         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |  FROM hist) WHERE rn = 1 OR value IS DISTINCT FROM pv)
        |SELECT user_id, value, day AS valid_from,
        |  lead(day) OVER (PARTITION BY user_id ORDER BY day) AS valid_to,
        |  lead(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL AS is_current
        |FROM chg ORDER BY user_id, valid_from""".stripMargin),
    Query("maint_snapshot_diff", (s, d) => Maintenance.snapshotDiff(Tables(s, d).events),
      """WITH cut AS (SELECT date_trunc('second', max(ts)) - INTERVAL 2 DAY AS cutoff FROM events),
        |prev AS (SELECT user_id, day, value AS old_value, TRUE AS in_old FROM (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events CROSS JOIN cut WHERE ts < cutoff) WHERE rn = 1 AND op = 'U'),
        |cur AS (SELECT user_id, day, value AS new_value, TRUE AS in_new FROM (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND op = 'U')
        |SELECT coalesce(prev.user_id, cur.user_id) AS user_id,
        |  coalesce(prev.day, cur.day) AS day, old_value, new_value,
        |  CASE WHEN in_old IS NULL THEN 'added'
        |       WHEN in_new IS NULL THEN 'removed'
        |       WHEN old_value IS DISTINCT FROM new_value THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM prev FULL OUTER JOIN cur
        |  ON prev.user_id = cur.user_id AND prev.day = cur.day
        |ORDER BY user_id, day""".stripMargin),
    Query("maint_agg_merge", (s, d) => Maintenance.aggMerge(Tables(s, d).events),
      """SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |  CAST(count(value) AS BIGINT) AS n,
        |  CASE WHEN count(value) > 0
        |       THEN CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0
        |  END AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin),
    Query("fin_last_update", (s, d) => Maintenance.lastUpdate(Tables(s, d).orders),
      """SELECT o_custkey, CAST(max(o_orderdate) AS DATE) AS last_order_date, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    Query("fin_dedup_latest", (s, d) => Maintenance.dedupLatest(Tables(s, d).events),
      """SELECT event_id, user_id, day, event_type, value FROM (
        |  SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value,
        |         row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, day""".stripMargin),
    Query("fin_retention_window", (s, d) => Maintenance.retentionWindow(Tables(s, d).events),
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE ts >= (SELECT date_trunc('second', max(ts)) - INTERVAL 7 DAY FROM events)
        |ORDER BY event_id""".stripMargin),
    Query("fin_incremental_delta", (s, d) => Maintenance.incrementalDelta(Tables(s, d).events),
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value, ts,
        |         date_trunc('second', max(ts) OVER (PARTITION BY user_id)) - INTERVAL 3 DAY AS cutoff
        |  FROM events) WHERE ts >= cutoff ORDER BY event_id""".stripMargin),
    Query("maint_inactive", (s, d) => { val t = Tables(s, d); Maintenance.inactiveCustomers(t.customer, t.events) },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT user_id FROM events) ORDER BY c_custkey""".stripMargin),
    // The incremental upsert must equal the full batch recompute.
    Query("maint_upsert", (s, d) => Maintenance.upsert(Tables(s, d).events),
      """SELECT event_id, user_id, day, event_type, value FROM (
        |  SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value,
        |         row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, day""".stripMargin),
    Query("maint_cdc_apply", (s, d) => Maintenance.cdcApply(Tables(s, d).events),
      """SELECT user_id, day, value, last_ts FROM (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
        |    date_trunc('second', ts) AS last_ts,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND op = 'U' ORDER BY user_id, day""".stripMargin),
  )
}
