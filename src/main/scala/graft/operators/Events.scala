package graft.operators

import graft.functions.Exact._
import graft.plans.HonestCheckpoint._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics (SURVEY §2 #33-35) — batch forms; the
  * Structured Streaming mirrors live in [[graft.streaming.EventsStream]].
  */
object Events {

  /** 30-minute-gap sessionization via lag + running sum — one
    * shuffle on user_id, sequential scan per key. Gap comparison and
    * outputs use second-truncated timestamps (SURVEY §5: sub-second
    * precision differs across engines).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionIds(events, gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsec")).as("start_ts"),
        max(col("tsec")).as("end_ts"),
        sum(dec2(col("value"))).as("total_value"))
      .withColumn("total_value", outD(col("total_value"), 2))
      .orderBy(col("user_id"), col("session_id"))

  /** The shared sessionization prefix: per-user 30-min-gap session id
    * assignment (lag + running sum over ONE user_id shuffle) with the
    * second-truncated event time as `tsec`. Consumed by
    * [[sessionize]] (per-session aggregates) and [[sessionPaths]]
    * (path mining) so the session DEFINITION has exactly one home.
    */
  private def sessionIds(events: DataFrame, gapMinutes: Int): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("tsec", date_trunc("second", col("ts")))
      .withColumn("prev", lag(col("tsec"), 1).over(ord))
      .withColumn("new_session",
        when(col("prev").isNull ||
          col("tsec") > col("prev") + expr(s"INTERVAL $gapMinutes MINUTES"), 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Session-duration quantiles — exact p50/p90/p99 of session
    * length (seconds between a session's first and last second-
    * truncated event) over all sessions: the "how long do sessions
    * last" panel, composed from the two existing scale shapes
    * ([[sessionIds]]' one per-user shuffle feeding
    * [[FinAnalytics.valueQuantiles]]' two-pass histogram rank
    * selection — durations are never globally sorted). The quantile
    * tiebreak key packs (user_id, session_id) into one BIGINT
    * (user_id·2³² + session_id); ANSI overflow errors LOUDLY if a
    * corpus ever exceeds the 2³¹-users / 2³²-sessions-per-user
    * domain instead of silently colliding tiebreaks.
    *
    * Plan note: with the single constant group, Catalyst folds
    * valueQuantiles' per-type equi-joins into 1-row-broadcast
    * crosses (they show as BroadcastNestedLoopJoin — the bounded
    * kind) and the 8192-row histogram cumsum runs in one partition;
    * the corpus-sized stages (duration aggregation, bucket counting,
    * in-bucket rank selection) keep their real keys and parallelism.
    */
  def sessionQuantiles(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // Materialized ONCE (honest stats), exactly as [[gapQuantiles]]:
    // valueQuantiles scans its input three times (min/max stats,
    // histogram, rank selection) — without the barrier each pass
    // re-runs the corpus-sized per-user lag() window + session
    // groupBy. The stored frame is the 3-column duration projection,
    // the narrowest thing the three passes can read.
    val durations = sessionIds(events, gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("tsec")).as("s"), max(col("tsec")).as("e"))
      .select(lit("session").as("event_type"),
        (col("user_id") * lit(4294967296L) + col("session_id")).as("event_id"),
        (unix_timestamp(col("e")) - unix_timestamp(col("s"))).cast("double").as("value"))
      .honestCheckpoint()
    FinAnalytics.valueQuantiles(durations)
  }

  /** Clickstream path mining: the top-k most common session paths,
    * where a path is the '>'-joined event-type sequence of one
    * session in (ts, event_id) order. Paths reduce per session on the
    * same user_id shuffle the sessionization already pays (sort_array
    * over (ts, event_id, type) structs makes the order total), then a
    * map-side-combined count + TakeOrdered picks the top paths — no
    * global sort. The long tail of rare paths never leaves the
    * partial aggregation.
    */
  def sessionPaths(events: DataFrame, gapMinutes: Int = 30, k: Int = 10): DataFrame =
    sessionIds(events, gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(expr("transform(evs, e -> e.event_type)"), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)

  /** Event debounce: collapse bursts of the same (user, event_type)
    * into one representative — the retry/double-click/duplicate-
    * delivery suppressor that runs before any event analytics. A
    * burst is a gap-group at the (user_id, event_type) grain (same
    * lag + running-sum machinery as [[sessionIds]], gap in seconds):
    * consecutive same-type events ≤ `gapSeconds` apart chain into
    * one burst regardless of burst length, and the FIRST event (by
    * second-truncated ts, event_id tiebreak) is the keeper.
    * Gap-grouping — not "distance to previous KEPT event" — keeps
    * the semantics one window + one aggregate on a single
    * (user_id, event_type) shuffle, with no iterative dependency;
    * it is also what a Structured Streaming mirror can hold as
    * per-key state. Emits one row per burst: the keeper id, burst
    * start, and how many duplicates were suppressed.
    */
  def debounce(events: DataFrame, gapSeconds: Int = 300): DataFrame = {
    val ord = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tsec"), col("event_id"))
    events
      .withColumn("tsec", date_trunc("second", col("ts")))
      .withColumn("prev", lag(col("tsec"), 1).over(ord))
      .withColumn("new_burst",
        when(col("prev").isNull ||
          col("tsec") > col("prev") + expr(s"INTERVAL $gapSeconds SECONDS"), 1L).otherwise(0L))
      .withColumn("burst_id", sum(col("new_burst")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("event_type"), col("burst_id"))
      // The burst's first row IS the one flagged new_burst = 1 (the
      // window order is (tsec, event_id), so the flagged row carries
      // the burst's lexicographic-min pair by construction — exactly
      // one per burst). Conditional mins over its primitives keep the
      // aggregate a HashAggregate; the previous min(struct) form is
      // not a mutable buffer type and planned a SortAggregate with an
      // extra full re-sort of the windowed frame by burst key.
      .agg(min(when(col("new_burst") === 1, col("event_id"))).as("keeper_id"),
        min(when(col("new_burst") === 1, col("tsec"))).as("start_ts"),
        count(lit(1)).as("n_burst"))
      .select(col("user_id"), col("event_type"), col("burst_id"),
        col("keeper_id"), col("start_ts"),
        (col("n_burst") - 1).as("n_suppressed"))
      .orderBy(col("user_id"), col("event_type"), col("burst_id"))
  }

  /** Rolling active users: per day, the EXACT distinct-user counts at
    * 1-day (DAU) and trailing-`window`-day (WAU) grain plus their
    * ratio (stickiness) — the standard engagement panel. The sliding
    * distinct is computed by CONTRIBUTION EXPLODE, not a self-join or
    * a per-day window over raw events: activity first collapses to
    * distinct (user, day) pairs — the corpus touches one shuffle at
    * that grain and skew caps at one row per user-day — then each
    * pair fans out to the `window` report days it contributes to and
    * a hash aggregate counts distinct users per day. Work is
    * |user-days| × window narrow rows, independent of per-day event
    * volume; no window function, no range join. Partial-window
    * opening days report over what exists (standard), and only days
    * with actual activity are emitted (the DAU join prunes phantom
    * future days the fan-out manufactures past each activity burst).
    */
  def rollingActive(events: DataFrame, window: Int = 7): DataFrame = {
    val ud = events
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
      .localCheckpoint(true) // feeds the fan-out AND the DAU side
    val wau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(window - 1))).as("x"), col("day"))
      .select(col("user_id"), expr("date_add(day, x)").as("day"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      .join(wau, "day")
      .withColumn("stickiness", round(col("dau") / col("wau"), 6) + lit(0.0))
      .orderBy(col("day"))
  }

  /** Tumbling 1-hour rollup per event_type — the batch mirror of the
    * streaming watermark+window job. Map-side partial aggs; the
    * shuffle carries (buckets × types) rows.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("total_value", outD(col("total_value"), 2))
      .orderBy(col("bucket"), col("event_type"))

  /** Per-user event-type profile — the pivot/crosstab pattern as
    * explicit conditional aggregation (deterministic column set; a
    * dynamic `pivot` would scan for distinct values first). One
    * hash aggregation on user_id.
    */
  def typePivot(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        types.map(t => sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")) :+
          sum(dec2(col("value"))).as("total_value"): _*)
      .withColumn("total_value", outD(col("total_value"), 2))
      .orderBy(col("user_id"))
  }

  /** Interval (range) join with NO equi key — every event attributed
    * to every "promo window" (`windowDays` from each high-value
    * purchase) containing its timestamp. Spark plans a bare
    * range-predicate join as a BroadcastNestedLoopJoin —
    * O(|events|·|windows|) and broadcast-bound. Bucketized rewrite:
    * the timeline is cut into fixed-width buckets; each window
    * EXPLODES to the buckets it covers (≤ ⌈len/width⌉+1 rows), each
    * event hashes to its single bucket, and the join becomes a
    * shuffled EQUI-join on bucket with the exact range predicate as
    * residual. An event's one bucket meets each covering window
    * exactly once, so no dedup is needed. Scales as |events| +
    * Σ window-spans, partitioned by time bucket.
    *
    * Boundary parity: window starts truncate to the SECOND, so every
    * >=/< decision is identical under the events reader's ns→µs
    * floor vs an ns-native engine (SURVEY §5).
    */
  def intervalJoin(events: DataFrame, valueThreshold: Double = 250.0,
                   windowDays: Int = 2, bucketDays: Int = 2): DataFrame = {
    val bucketSec = bucketDays * 86400L
    def bucketOf(ts: Column): Column = floor(unix_timestamp(ts) / bucketSec)
    // window starts truncate to the SECOND (SURVEY §5: sub-second
    // precision differs across engines; a whole-second boundary makes
    // every >=/< decision identical under the reader's ns→µs floor)
    val windows = events
      .filter(col("event_type") === "purchase" && col("value") > valueThreshold)
      .select(col("event_id").as("win_id"),
        date_trunc("second", col("ts")).as("win_start"))
      .withColumn("win_end", col("win_start") + expr(s"INTERVAL $windowDays DAYS"))
      // end is exclusive: the last covered bucket is the one holding
      // end − 1µs, so a window ending exactly on a bucket edge does
      // not bleed into the next bucket
      .withColumn("bucket", explode(sequence(
        bucketOf(col("win_start")),
        bucketOf(col("win_end") - expr("INTERVAL 1 MICROSECOND")))))
    events.select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("bucket", bucketOf(col("ts")))
      .join(windows, "bucket")
      .filter(col("ts") >= col("win_start") && col("ts") < col("win_end"))
      .select(col("event_id"), col("win_id"), col("user_id"))
      .orderBy(col("event_id"), col("win_id"))
  }

  /** Grouped top-k WITHOUT the window sort: revenue per part, top-k
    * per brand via the [[graft.plans.TopKLongPairs]] bounded-heap
    * aggregate (row_number semantics — exactly k rows per brand,
    * score DESC / partkey ASC).
    *
    * vs [[topPartsRevenue]]'s window: the window plan shuffles every
    * (brand, part) row and SORTS each brand partition; the heap plan
    * partial-aggregates — each map task keeps a k-bounded buffer per
    * brand, the shuffle carries ≤ k pairs per (task, brand), the
    * final merge is linear. Ranking runs on the exact fixed-point
    * integer revenue (scale-4 decimal × 10⁴), so order is total and
    * the DuckDB oracle reproduces it bit-for-bit.
    */
  def topPartsHeap(lineitem: DataFrame, part: DataFrame, k: Int = 3): DataFrame = {
    // part scales with SF (200k×SF rows) — no broadcast hint; AQE
    // broadcasts while small and degrades gracefully at scale.
    val per = lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec2(col("l_discount")))).as("revenue"))
    // revenue has scale 4 -> ×10⁴ is an exact integer surrogate
    heapTopK(per, group = "p_brand", id = "l_partkey", measure = "revenue",
      scaleFactor = 10000L, k = k, outMeasure = "revenue")
  }

  /** Shared tail of every heap-based grouped top-k: exact integer
    * scoring (measure × scaleFactor must be integral), the bounded
    * [[graft.plans.TopKLongPairs]] aggregation, and the explode back
    * to ranked rows with the measure restored at output scale 2.
    */
  private def heapTopK(per: DataFrame, group: String, id: String, measure: String,
                       scaleFactor: Long, k: Int, outMeasure: String): DataFrame = {
    import graft.plans.TopKLongPairs
    per
      .withColumn("score", (col(measure) * scaleFactor).cast("long"))
      .groupBy(col(group))
      .agg(TopKLongPairs(col("score"), col(id), k).as("top"))
      .select(col(group), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(group), col("t.id").as(id),
        outD(col("t.score").cast("decimal(28,0)") / scaleFactor, 2).as(outMeasure),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy(col(group), col("rank"))
  }

  /** Top-k users by total event value per event_type — the second
    * consumer of the heap aggregate, proving it composes: any
    * (group, sub-key, measure) top-k is the same two-aggregation
    * shape. Values aggregate in exact integer cents.
    */
  def topUsersHeap(events: DataFrame, k: Int = 5): DataFrame = {
    val per = events.groupBy(col("event_type"), col("user_id"))
      .agg(sum(dec2(col("value"))).as("total"))
    heapTopK(per, group = "event_type", id = "user_id", measure = "total",
      scaleFactor = 100L, k = k, outMeasure = "total_value")
  }

  /** Approximate distinct users per event_type (HyperLogLog++) next
    * to the exact count — the sketch that replaces an
    * O(distinct-users) exact-distinct state at 100 TB with O(2^p)
    * registers that MERGE across partitions (same mergeability
    * contract as the t-digest). rsd 1% ⇒ ~1.1% typical error.
    * Engine sketches differ (Spark HLL++ vs others), so this takes
    * the rows-only gate; the spec asserts the relative-error bound
    * against the exact distinct.
    */
  def approxUsers(events: DataFrame, rsd: Double = 0.01): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .orderBy(col("event_type"))

  /** ROLLUP over (event_type, day): per-type-per-day, per-type, and
    * grand-total aggregates in ONE pass — Spark expands the grouping
    * sets map-side and the shuffle still carries only group rows.
    * Grouping flags are emitted explicitly (and NULL group keys
    * coalesced to sentinels) so every output row is unambiguous and
    * hash-comparable across engines.
    */
  def rollupTypeDay(events: DataFrame): DataFrame =
    events
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("total_value"),
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("day")).cast("long").as("g_day"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit(java.sql.Date.valueOf("1900-01-01"))).as("day"),
        col("g_type"), col("g_day"), col("n"),
        outD(col("total_value"), 2).as("total_value"))
      .orderBy(col("g_type"), col("g_day"), col("event_type"), col("day"))

  /** CUBE over (event_type, weekday): all four grouping levels in one
    * pass — the full-lattice companion to [[rollupTypeDay]]. Weekday
    * is `dayofweek − 1` (0 = Sunday), matching `date_part('dow')` in
    * the oracle engine. The −1 weekday sentinel marks super-aggregate
    * rows (disambiguated by the explicit grouping flags).
    */
  def cubeTypeDow(events: DataFrame): DataFrame =
    events
      .withColumn("dow", (dayofweek(col("ts")) - 1).cast("long"))
      .cube(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("total_value"),
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("dow")).cast("long").as("g_dow"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("g_type"), col("g_dow"), col("n"),
        outD(col("total_value"), 2).as("total_value"))
      .orderBy(col("g_type"), col("g_dow"), col("event_type"), col("dow"))

  /** Ordered funnel per user: view → click → purchase, where each
    * stage only counts AFTER the previous stage has fired (a click
    * with no prior view is not a funnel click). Stage qualification
    * is a running count over the per-user event order — one shuffle
    * on user_id, both window passes and the final aggregation reuse
    * it. Timestamps are second-truncated (SURVEY §5).
    */
  def funnel(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("tsec", date_trunc("second", col("ts")))
      .withColumn("views_before",
        count(when(col("event_type") === "view", lit(1))).over(before))
      .withColumn("is_qclick",
        when(col("event_type") === "click" && col("views_before") > 0, 1L).otherwise(0L))
      .withColumn("qclicks_before", coalesce(sum(col("is_qclick")).over(before), lit(0L)))
      .withColumn("is_qpurchase",
        when(col("event_type") === "purchase" && col("qclicks_before") > 0, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("tsec"))).as("first_view"),
        min(when(col("is_qclick") === 1, col("tsec"))).as("first_click"),
        min(when(col("is_qpurchase") === 1, col("tsec"))).as("first_purchase"))
      .withColumn("stage",
        when(col("first_purchase").isNotNull, 3L)
          .when(col("first_click").isNotNull, 2L)
          .when(col("first_view").isNotNull, 1L)
          .otherwise(0L))
      .orderBy(col("user_id"))
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent click by the same user within the attribution window —
    * the as-of join with a lookback tolerance. Runs on the custom
    * sort-merge [[graft.plans.AsOfJoin]] operator (one shuffle per
    * side, O(1) merge state), then the tolerance is a residual
    * filter: a matched click older than the window nulls the
    * attribution rather than dropping the purchase. The lag is
    * emitted in exact integer microseconds (no interval arithmetic
    * for engines to disagree on). Click (user, ts) pairs are unique
    * in the data, so the as-of pick needs no extra tiebreak.
    */
  def attribution(events: DataFrame, windowHours: Int = 1): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"), col("ts").as("c_ts"))
    val inWindow = col("c_ts").isNotNull &&
      col("c_ts") >= col("ts") - expr(s"INTERVAL $windowHours HOURS")
    graft.plans.AsOf.join(p, c, "user_id", "c_user_id", "ts", "c_ts")
      .select(col("event_id"), col("user_id"), col("value"),
        when(inWindow, col("click_id")).as("click_id"),
        when(inWindow, unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("lag_us"))
      .orderBy(col("event_id"))
  }

  /** Weekly cohort retention: users grouped by the week of their
    * first activity (the cohort), counted as retained in every later
    * week they appear, plus the retention ratio vs the cohort's own
    * week-0 size. The classic growth-analytics triangle.
    *
    * Scale shape: the fact table collapses to DISTINCT (user, week)
    * first (map-side partial dedup — activity volume never crosses
    * the shuffle, only user-week pairs), the first-week reduction and
    * the self-join both ride hash(user_id), and the final count is a
    * two-key aggregation of cohort-sized data. The retention ratio is
    * an IEEE quotient of two exact longs — bit-identical in every
    * engine, emitted unrounded (SURVEY §5's integer-ratio rule).
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weeks = events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val first = weeks.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val counts = weeks.join(first, "user_id")
      .select(col("cohort_week"),
        expr("CAST(datediff(week, cohort_week) DIV 7 AS BIGINT)").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val wc = Window.partitionBy(col("cohort_week"))
    counts
      .withColumn("cohort_size", max(when(col("week_offset") === 0, col("n_users"))).over(wc))
      .withColumn("retention",
        col("n_users").cast("double") / col("cohort_size").cast("double") + lit(0.0))
      .drop("cohort_size")
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** RFM (recency / frequency / monetary) user segmentation — the
    * classic lifecycle-marketing profile. One hash aggregation on
    * user_id produces the raw metrics; the 1-row global stats
    * (anchor day, corpus means) broadcast back, so scoring is
    * map-side. Scores compare against the corpus means with the
    * SAME double expression in both engines (exact integer/decimal
    * inputs → deterministic IEEE comparisons); recency is an exact
    * day difference from the newest activity in the corpus.
    */
  def rfm(events: DataFrame): DataFrame = {
    val per = events
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("value"))).as("mon"))
    val global = per.agg(max(col("last_day")).as("anchor_day"),
      sum(col("frequency")).as("total_events"),
      sum(col("mon")).as("total_mon"),
      count(lit(1)).as("n_users"))
    val avgF = col("total_events").cast("double") / col("n_users").cast("double")
    val avgM = col("total_mon").cast("double") / col("n_users").cast("double")
    val mond = col("mon").cast("double")
    val freqd = col("frequency").cast("double")
    per.crossJoin(broadcast(global))
      .withColumn("recency_days", datediff(col("anchor_day"), col("last_day")).cast("long"))
      .withColumn("r_score",
        when(col("recency_days") <= 3, 3L).when(col("recency_days") <= 10, 2L).otherwise(1L))
      .withColumn("f_score",
        when(freqd >= lit(2.0) * avgF, 3L).when(freqd >= avgF, 2L).otherwise(1L))
      .withColumn("m_score",
        when(mond >= lit(2.0) * avgM, 3L).when(mond >= avgM, 2L).otherwise(1L))
      .withColumn("segment",
        when(col("r_score") === 3 && col("f_score") >= 2 && col("m_score") >= 2, "champion")
          .when(col("r_score") >= 2 && col("f_score") >= 2, "loyal")
          .when(col("r_score") === 1 && col("f_score") >= 2, "at_risk")
          .when(col("r_score") >= 2, "new")
          .otherwise("dormant"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        outD(col("mon"), 2).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"), col("segment"))
      .orderBy(col("user_id"))
  }

  /** First-order Markov transition matrix of the event stream: for
    * each (from_type → to_type) pair of CONSECUTIVE events per user,
    * the pair count and the transition probability. One shuffle on
    * user_id for the lead(), then a partial-aggregated rollup to
    * |types|² rows; the probability is an IEEE quotient of two exact
    * longs (unrounded — bit-identical in every engine, same rule as
    * [[cohortRetention]]).
    */
  def transitions(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("next_type", lead(col("event_type"), 1).over(ord))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .withColumn("prob", col("n").cast("double") / col("n_from").cast("double") + lit(0.0))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Semi-structured extraction: the JSON `props` payload parsed at
    * scan time (`get_json_object` — codegen'd, no UDF), the extracted
    * metric aggregated per event_type. The parse happens map-side on
    * the scan; the shuffle carries |types| rows of exact-integer
    * partial aggregates. Null/absent keys stay null and are counted
    * separately from rows.
    */
  def jsonProps(events: DataFrame): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    events
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        sum(col("k")).as("k_sum"))
      .withColumn("k_mean",
        when(col("n_k") > 0, col("k_sum").cast("double") / col("n_k").cast("double") + lit(0.0)))
      .orderBy(col("event_type"))
  }

  /** Trailing z-score anomaly flags: each event's value scored
    * against the mean/stddev of the SAME USER's previous `bars`
    * values (frame excludes the current row — an anomaly must not
    * dilute its own baseline). Moments are exact decimal sums
    * combined by [[graft.functions.Exact.sampleStd]]. One shuffle on
    * user_id; z uses the ROUNDED stddev so both engines replay
    * identical doubles.
    */
  def anomalies(events: DataFrame, bars: Int = 20, zCut: Double = 3.0): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w = ord.rowsBetween(-bars, -1)
    val v = dec2(col("value"))
    events
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(v).over(w))
      .withColumn("s2", sum(v * v).over(w))
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("sd", when(col("n") > 1,
        round(sampleStd(col("n"), col("s"), col("s2")), 6) + lit(0.0)))
      .withColumn("zscore", when(col("sd") > 0.0,
        round((col("value") - col("mean")) / col("sd"), 6) + lit(0.0)))
      .withColumn("is_anomaly", coalesce(abs(col("zscore")) > zCut, lit(false)))
      .select(col("event_id"), col("user_id"), col("value"), col("zscore"), col("is_anomaly"))
      .orderBy(col("event_id"))
  }

  /** Exact p50/p90/p99 of the inter-arrival gap (µs between
    * consecutive same-user events) per event_type — latency/dwell
    * analytics composed from two existing scale shapes: the per-user
    * lead() window (one shuffle on user_id) feeds
    * [[FinAnalytics.valueQuantiles]]'s two-pass histogram rank
    * selection, so the gaps are never globally sorted. Gaps are
    * exact integer microseconds attributed to the earlier event's
    * type; the µs→double cast is lossless below 2⁵³.
    */
  def gapQuantiles(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // Materialized ONCE (honest stats): valueQuantiles scans its
    // input three times (min/max stats, histogram, rank selection) —
    // without the barrier each pass re-runs the corpus-sized per-user
    // lead() window (ReuseExchange dedupes the user_id shuffle, but
    // the window sort + lead re-run per consumer). The stored frame
    // is the 3-column gaps projection, the narrowest thing the three
    // passes can read.
    val gaps = events
      .withColumn("next_ts", lead(col("ts"), 1).over(ord))
      .filter(col("next_ts").isNotNull)
      .select(col("event_type"), col("event_id"),
        (unix_micros(col("next_ts")) - unix_micros(col("ts"))).cast("double").as("value"))
      .honestCheckpoint()
    FinAnalytics.valueQuantiles(gaps)
  }

  /** One-sided winsorization: clamp each value at its event_type's
    * EXACT p99 — the spike-taming step before aggregates that outlier
    * values would dominate. Composes [[FinAnalytics.valueQuantiles]]
    * (two-pass histogram rank selection — facts never sorted); the
    * 5-row threshold table broadcasts back over one scan.
    */
  /** Per-type p99 clamp thresholds — the winsorize profile. Exposed
    * so the STREAMING winsorizer can clamp live values against a
    * frozen batch profile
    * ([[graft.streaming.EventsStream.winsorizeStream]]), the same
    * batch-profile/stream-apply split as [[histogramEdges]].
    */
  def winsorizeThresholds(events: DataFrame): DataFrame =
    FinAnalytics.valueQuantiles(events).select(col("event_type"), col("p99"))

  def winsorize(events: DataFrame): DataFrame = {
    val q = winsorizeThresholds(events)
    events.filter(col("value").isNotNull)
      .join(broadcast(q), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        least(col("value"), col("p99")).as("value_w"),
        (col("value") > col("p99")).as("clipped"))
      .orderBy(col("event_id"))
  }

  /** Fixed-width value histogram per event type: 20 equal bins over
    * each type's [min, max] span, empty bins omitted. The per-type
    * extrema are a dimension-sized aggregate that BROADCASTS back
    * onto one corpus scan (no self-join, no sort); binning is fixed
    * double arithmetic — ((v−lo)/(hi−lo))·bins, floored, clamped —
    * so both engines land every value in the same bin, and the final
    * count is one map-side-combined shuffle on (type, bin). A
    * degenerate flat type (hi = lo) collapses to bin 0.
    */
  /** Per-type extrema — the histogram's bin-edge profile. Exposed so
    * the STREAMING histogram can bin against a frozen batch profile
    * ([[graft.streaming.EventsStream.histogramStream]]).
    */
  def histogramEdges(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))

  /** Bin index of `value` against `lo`/`hi` columns: fixed IEEE op
    * order, clamped to [0, bins−1], degenerate flat span → bin 0.
    * The bottom clamp is a no-op for batch (edges derive from the
    * same rows, so value ≥ lo) but catches downward drift when the
    * STREAMING histogram bins live values against a frozen profile.
    */
  private[graft] def binIndex(bins: Int) = when(col("hi") > col("lo"),
    least(greatest(
      floor((col("value") - col("lo")) / (col("hi") - col("lo")) * lit(bins.toDouble))
        .cast("long"), lit(0L)), lit(bins - 1L))).otherwise(0L)

  def histogram(events: DataFrame, bins: Int = 20): DataFrame = {
    val nn = events.filter(col("value").isNotNull)
    nn.join(broadcast(histogramEdges(events)), "event_type")
      .withColumn("bin", binIndex(bins))
      .groupBy(col("event_type"), col("bin"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bin"),
        (round(col("lo") + col("bin") * (col("hi") - col("lo")) / lit(bins.toDouble), 6)
          + lit(0.0)).as("bin_lo"),
        (round(col("lo") + (col("bin") + 1) * (col("hi") - col("lo")) / lit(bins.toDouble), 6)
          + lit(0.0)).as("bin_hi"),
        col("n"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** Revenue per part ranked within brand (dense_rank ≤ 3) — the
    * windowed top-N pattern. part scales with SF, so the join carries
    * no broadcast hint (AQE decides).
    */
  def topPartsRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("l_partkey"))
    lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec2(col("l_discount")))).as("revenue"))
      .withColumn("rank", dense_rank().over(w).cast("long"))
      .filter(col("rank") <= 3)
      // rank is computed over the exact decimal; output converts after
      .withColumn("revenue", outD(col("revenue"), 2))
      .orderBy(col("p_brand"), col("rank"), col("l_partkey"))
  }
}
