package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.core.Tables
import graft.streaming.EventStreams

/** Event-log queries over the `events` table, each a batch plan the
  * driver's oracle checks with the same SQL. */
object EventQueries {

  val evTumbling = Q(
    "ev_tumbling",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
    EventStreams.tumblingAgg(Tables.events(s, d))
  }

  val evSliding = Q(
    "ev_sliding",
    """WITH w AS (SELECT event_type, value,
      |    CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS base FROM events),
      |x AS (SELECT event_type, value,
      |    unnest([base - 300, base]) AS window_start FROM w)
      |SELECT window_start, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM x GROUP BY 1, 2""".stripMargin) { (s, d) =>
    EventStreams.slidingAgg(Tables.events(s, d))
  }

  val evSessionize = Q(
    "ev_sessionize",
    """WITH e AS (SELECT user_id, event_id, epoch(ts) AS t FROM events),
      |l AS (SELECT user_id, event_id, t,
      |    lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev FROM e),
      |m AS (SELECT user_id, event_id, t,
      |    CASE WHEN prev IS NULL OR t - prev > 300 THEN 1 ELSE 0 END AS ns FROM l),
      |s AS (SELECT user_id, t,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                  ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, CAST(floor(MIN(t)) AS BIGINT) AS session_start,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin) { (s, d) =>
    EventStreams.sessionize(Tables.events(s, d))
  }

  val evFirstPerKey = Q(
    "ev_first_per_key",
    """SELECT user_id, event_type, event_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS first_epoch
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |  ORDER BY ts, event_id) = 1""".stripMargin) { (s, d) =>
    EventStreams.firstEventPerKey(Tables.events(s, d))
  }

  /** Click→purchase interval join: purchases by the same user within
    * 600 s after a click. */
  val evIntervalJoin = Q(
    "ev_interval_join",
    """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, click_id, purchase_id,
      |  CAST(floor(epoch(purchase_ts)) - floor(epoch(click_ts)) AS BIGINT)
      |    AS lag_sec
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND purchase_ts >= click_ts
      |  AND purchase_ts < click_ts + INTERVAL 600 SECONDS""".stripMargin) {
    (s, d) => EventStreams.intervalJoin(Tables.events(s, d))
  }

  /** Last-touch attribution as-of join — oracle is DuckDB's native
    * ASOF LEFT JOIN (inclusive >=), an independent implementation of the
    * same semantics as the union-window form in TemporalJoins.asOfJoin. */
  val evAsofJoin = Q(
    "ev_asof_join",
    """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
      |  WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
      |  WHERE event_type = 'purchase')
      |SELECT p.user_id, p.purchase_id, c.click_id,
      |  CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_sec
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) { (s, d) =>
    EventStreams.asOfAttribution(Tables.events(s, d))
  }

  /** U-shaped multi-touch attribution
    * ([[EventStreams.multiTouchAttribution]]): every click in the 600 s
    * lookback shares a purchase's credit — 100% single touch, 50/50 for
    * two, else 40/40 first/last + 20% split over the middles, exact ppm
    * integers (the position-aware complement of ev_asof_join's
    * last-touch and ev_decay_score's exponential decay). */
  val evAttributionMulti = Q(
    "ev_attribution_multi",
    """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT c.user_id, click_id, purchase_id,
      |    CAST(floor(epoch(purchase_ts)) - floor(epoch(click_ts)) AS BIGINT)
      |      AS lag_sec
      |  FROM c JOIN p ON c.user_id = p.user_id
      |  AND purchase_ts >= click_ts
      |  AND purchase_ts < click_ts + INTERVAL 600 SECONDS),
      |r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id
      |      ORDER BY lag_sec DESC, click_id) AS touch_pos,
      |    COUNT(*) OVER (PARTITION BY purchase_id) AS n_touch FROM j)
      |SELECT user_id, purchase_id, click_id, touch_pos, n_touch,
      |  CAST(CASE WHEN n_touch = 1 THEN 1000000
      |       WHEN n_touch = 2 THEN 500000
      |       WHEN touch_pos = 1 OR touch_pos = n_touch THEN 400000
      |       ELSE 200000 // (n_touch - 2) END AS BIGINT) AS credit_ppm
      |FROM r""".stripMargin) { (s, d) =>
    EventStreams.multiTouchAttribution(Tables.events(s, d))
  }

  /** Causally-ordered view→click→purchase funnel (click counts only
    * at-or-after the first view, purchase only at-or-after that click). */
  val evFunnel = Q(
    "ev_funnel",
    """WITH v AS (SELECT user_id, MIN(ts) AS vts FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS cts FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts >= v.vts GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS pts FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.cts GROUP BY 1)
      |SELECT v.user_id,
      |  CAST(floor(epoch(v.vts)) AS BIGINT) AS first_view,
      |  CAST(floor(epoch(c.cts)) AS BIGINT) AS first_click,
      |  CAST(floor(epoch(p.pts)) AS BIGINT) AS first_purchase,
      |  1 + CAST(c.user_id IS NOT NULL AS INTEGER)
      |    + CAST(p.user_id IS NOT NULL AS INTEGER) AS stage
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin) { (s, d) =>
    EventStreams.funnel(Tables.events(s, d))
  }

  /** Rolling last-5-event stats per user (row-bounded moving window). */
  val evRolling = Q(
    "ev_rolling",
    """SELECT user_id, event_id,
      |  COUNT(*) OVER w AS roll_n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS roll_sum,
      |  MIN(value) OVER w AS roll_min,
      |  MAX(value) OVER w AS roll_max
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin) {
    (s, d) => EventStreams.rollingStats(Tables.events(s, d))
  }

  /** Weekly cohort retention matrix (first-seen week × week offset). */
  val evRetention = Q(
    "ev_retention",
    """WITH wk AS (SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts)/604800) AS BIGINT) AS week FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1)
      |SELECT c.cohort_week, wk.week - c.cohort_week AS week_offset,
      |  COUNT(*) AS n_users
      |FROM wk JOIN c ON wk.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    EventStreams.retentionCohorts(Tables.events(s, d))
  }

  /** Cohort LTV curves: cumulative purchase revenue per (signup-week
    * cohort, week offset) in exact 1e-4 units — ev_retention's revenue
    * companion (the product-analytics table behind payback-period
    * charts). The cumulative window runs over the (cohort, offset)
    * AGGREGATE — offset-domain-bounded, never the raw events. */
  val evCohortLtv = Q(
    "ev_cohort_ltv",
    """WITH wk AS (SELECT user_id,
      |    CAST(floor(epoch(ts)/604800) AS BIGINT) AS week,
      |    CASE WHEN event_type = 'purchase'
      |      THEN CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
      |      ELSE 0 END AS vq
      |  FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1),
      |o AS (SELECT c.cohort_week, wk.week - c.cohort_week AS week_offset,
      |    CAST(SUM(wk.vq) AS BIGINT) AS rev_q
      |  FROM wk JOIN c ON wk.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, rev_q,
      |  CAST(SUM(rev_q) OVER (PARTITION BY cohort_week ORDER BY week_offset
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_q
      |FROM o""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wk = Tables.events(s, d).select(col("user_id"),
      floor(unix_timestamp(col("ts")) / 604800).cast("long").as("week"),
      when(col("event_type") === "purchase",
        (col("value").cast("decimal(18,4)") * 10000).cast("long"))
        .otherwise(0L).as("vq"))
    val c = wk.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val o = wk.join(c, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(sum(col("vq")).as("rev_q"))
    o.withColumn("cum_rev_q",
      sum(col("rev_q")).over(Window.partitionBy(col("cohort_week"))
        .orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Hour-of-day × day-of-week activity heat map with exact ppm shares —
    * the seasonality profile that sizes capacity and detects bot traffic
    * (flat profiles). Calendar cells derive from epoch arithmetic
    * ((d+4) mod 7: 1970-01-01 was a Thursday), portable across engines;
    * one fact aggregation + a one-row total broadcast. */
  val evSeasonality = Q(
    "ev_seasonality",
    """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
      |c AS (SELECT (es // 86400 + 4) % 7 AS dow,
      |    (es % 86400) // 3600 AS hour, COUNT(*) AS n
      |  FROM e GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
      |SELECT dow, hour, n, n * 1000000 // total AS share_ppm
      |FROM c, t""".stripMargin) { (s, d) =>
    val cells = Tables.events(s, d)
      .select(unix_timestamp(col("ts")).as("es"))
      .groupBy(expr("(es div 86400 + 4) % 7").as("dow"),
        expr("(es % 86400) div 3600").as("hour"))
      .agg(count(lit(1)).as("n"))
    val t = cells.agg(sum(col("n")).as("total"))
    cells.crossJoin(broadcast(t))
      .select(col("dow"), col("hour"), col("n"),
        expr("n * 1000000 div total").as("share_ppm"))
  }

  /** Gaps-and-islands consecutive-active-day streaks per user. */
  val evStreaks = Q(
    "ev_streaks",
    """WITH d AS (SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts)/86400) AS BIGINT) AS day FROM events),
      |r AS (SELECT user_id, day,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |s AS (SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest_streak,
      |  CAST(SUM(len) AS BIGINT) AS n_active_days
      |FROM s GROUP BY user_id""".stripMargin) { (s, d) =>
    EventStreams.activityStreaks(Tables.events(s, d))
  }

  /** Forward as-of join: each click → the next purchase at-or-after it.
    * Oracle is DuckDB's native ASOF with the inequality reversed — an
    * independent implementation of the forward direction. */
  val evAsofForward = Q(
    "ev_asof_forward",
    """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |c AS (SELECT user_id, ts, event_id AS click_id FROM events
      |  WHERE event_type = 'click')
      |SELECT c.user_id, c.click_id, p.purchase_id,
      |  CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS wait_sec
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin) { (s, d) =>
    EventStreams.asOfNextPurchase(Tables.events(s, d))
  }

  /** First-order Markov transition matrix over event types. */
  val evTransitions = Q(
    "ev_transitions",
    """WITH o AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS next_type
      |  FROM events),
      |c AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
      |    AS p_ppm
      |FROM c""".stripMargin) { (s, d) =>
    EventStreams.eventTransitions(Tables.events(s, d))
  }

  /** SCD2 validity intervals from consecutive same-state runs. */
  val evScd2 = Q(
    "ev_scd2",
    """WITH e AS (SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
      |         THEN 0 ELSE 1 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS run FROM e),
      |g AS (SELECT user_id, run, MIN(event_type) AS state, MIN(ts) AS f
      |      FROM r GROUP BY 1, 2),
      |x AS (SELECT user_id, state, f,
      |    lead(f) OVER (PARTITION BY user_id ORDER BY run) AS t
      |  FROM g)
      |SELECT user_id, state,
      |  CAST(floor(epoch(f)) AS BIGINT) AS valid_from,
      |  CAST(floor(epoch(t)) AS BIGINT) AS valid_to,
      |  t IS NULL AS is_current
      |FROM x""".stripMargin) { (s, d) =>
    EventStreams.scd2Intervals(Tables.events(s, d))
  }

  /** Median-threshold anomaly flags (2× the per-user upper median). */
  val evAnomaly = Q(
    "ev_anomaly",
    """WITH r AS (SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY value, event_id)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |m AS (SELECT user_id, value AS med FROM r WHERE rn = n // 2 + 1)
      |SELECT e.user_id, e.event_id, e.value, m.med,
      |  e.value > 2 * m.med AS is_anomaly
      |FROM events e JOIN m ON e.user_id = m.user_id""".stripMargin) { (s, d) =>
    EventStreams.anomalyFlags(Tables.events(s, d))
  }

  /** RFM segmentation: recency/frequency/monetary with 1..5 ntile scores. */
  val evRfm = Q(
    "ev_rfm",
    """WITH p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, value
      |  FROM events WHERE event_type = 'purchase'),
      |now_ AS (SELECT MAX(s) AS now_s FROM p),
      |per AS (SELECT user_id, MAX(s) AS last_s, COUNT(*) AS frequency,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary
      |  FROM p GROUP BY 1)
      |SELECT user_id, (now_s - last_s) // 86400 AS recency_days, frequency,
      |  monetary,
      |  ntile(5) OVER (ORDER BY (now_s - last_s) // 86400, user_id)
      |    AS r_score,
      |  ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
      |  ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
      |FROM per, now_""".stripMargin) { (s, d) =>
    EventStreams.rfmSegments(Tables.events(s, d))
  }

  /** OHLC bars (EventStreams.ohlcBars): per (user, hour) open/high/low/
    * close with rank-deterministic first/last — the time-series
    * downsampling rollup. */
  val evOhlc = Q(
    "ev_ohlc",
    """WITH b AS (SELECT user_id,
      |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT user_id, hour, COUNT(*) AS n_events,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  MIN(value) AS low, MAX(value) AS high
      |FROM b GROUP BY 1, 2""".stripMargin) { (s, d) =>
    EventStreams.ohlcBars(Tables.events(s, d))
  }

  /** Inter-event gap statistics per user — the cadence profile behind
    * churn/engagement signals: consecutive-event gaps in integer seconds
    * ((ts, event_id)-ordered lag), then per user the count, max, and
    * ordered-middle gap (the A3 upper-median idiom — rank-deterministic,
    * no float percentile). One user-keyed shuffle; the lag window and
    * the aggregate share its partitioning. */
  val evGapStats = Q(
    "ev_gap_stats",
    """WITH g AS (SELECT user_id,
      |    epoch_us(ts)
      |      - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS gap_us
      |  FROM events),
      |gg AS (SELECT user_id, gap_us FROM g WHERE gap_us IS NOT NULL)
      |SELECT user_id, COUNT(*) AS n_gaps, MAX(gap_us) AS max_gap_us,
      |  (list_sort(list(gap_us)))[len(list(gap_us)) // 2 + 1] AS mid_gap_us
      |FROM gg GROUP BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // exact MICROSECOND gaps: epoch seconds would differ across engines on
    // sub-second timestamps (DuckDB epoch() keeps the fraction and a
    // double→bigint cast ROUNDS; Spark unix_timestamp truncates)
    val g = Tables.events(s, d)
      .select(col("user_id"),
        (unix_micros(col("ts"))
          - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      .filter(col("gap_us").isNotNull)
    g.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), max(col("gap_us")).as("max_gap_us"),
        graft.ops.Kernels.orderedMiddle(col("gap_us")).as("mid_gap_us"))
  }

  /** Per-user running distinct event-type count
    * ([[EventStreams.distinctTypesRunning]]). */
  val evDistinctRunning = Q(
    "ev_distinct_running",
    """WITH f AS (SELECT user_id, event_id, ts,
      |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
      |  FROM events)
      |SELECT user_id, event_id,
      |  CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_types
      |FROM f""".stripMargin) { (s, d) =>
    EventStreams.distinctTypesRunning(Tables.events(s, d))
  }

  /** Nearest as-of: each purchase matched to the temporally closest click
    * either direction (ties → earlier click). The oracle picks the same
    * row with a per-purchase LATERAL min-|Δ| scan — quadratic per user,
    * fine at oracle sf; the engine's union-window form is linear. Distance
    * compared in exact microseconds (the ev_gap_stats contract). */
  val evAsofNearest = Q(
    "ev_asof_nearest",
    """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
      |  WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
      |  WHERE event_type = 'purchase')
      |SELECT p.user_id, p.purchase_id, n.click_id,
      |  CAST(epoch_us(p.ts) - epoch_us(n.ts) AS BIGINT) AS delta_us
      |FROM p LEFT JOIN LATERAL (
      |  SELECT c.click_id, c.ts FROM c WHERE c.user_id = p.user_id
      |  ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)), c.ts LIMIT 1
      |) n ON true""".stripMargin) { (s, d) =>
    EventStreams.nearestClickMatch(Tables.events(s, d))
  }

  /** Dyadic recency-decayed engagement score over each user's last 16
    * events — exact integer decay (α = 1/2 as a left shift), see
    * [[EventStreams.decayScore]]. */
  val evDecayScore = Q(
    "ev_decay_score",
    """WITH r AS (SELECT user_id, value, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |q AS (SELECT user_id, rn,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vq
      |  FROM r WHERE rn <= 16)
      |SELECT user_id,
      |  CAST(SUM(vq * (CAST(1 AS BIGINT) << (16 - rn))) AS BIGINT) AS decay_q,
      |  COUNT(*) AS n_recent
      |FROM q GROUP BY 1""".stripMargin) { (s, d) =>
    EventStreams.decayScore(Tables.events(s, d), w = 16)
  }

  private val MarkovRounds = 4

  /** Fixed-round Markov stationary estimate over the event-type
    * transition matrix ([[EventStreams.markovStationary]]); the oracle
    * unrolls the SAME rounds from this generator. */
  val evMarkovStationary = Q(
    "ev_markov_stationary",
    """WITH o AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS next_type
      |  FROM events),
      |c AS (SELECT event_type AS f, next_type AS t, COUNT(*) AS n
      |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tr AS (SELECT f, t,
      |    CAST((n * 1000000) // SUM(n) OVER (PARTITION BY f) AS BIGINT)
      |      AS pp FROM c),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |tn AS (SELECT COUNT(*) AS tcnt FROM ty),
      |r0 AS (SELECT event_type, CAST(1000000 // tcnt AS BIGINT) AS p
      |  FROM ty, tn),
      |""".stripMargin +
      (1 to MarkovRounds).map { k =>
        s"""r$k AS (SELECT tr.t AS event_type,
           |    CAST(SUM(r${k - 1}.p * tr.pp) // 1000000 AS BIGINT) AS p
           |  FROM r${k - 1} JOIN tr ON r${k - 1}.event_type = tr.f
           |  GROUP BY tr.t)""".stripMargin
      }.mkString(",\n") +
      s"\nSELECT event_type, p AS p_ppm FROM r$MarkovRounds") { (s, d) =>
    EventStreams.markovStationary(Tables.events(s, d), rounds = MarkovRounds)
  }

  /** Cross-device identity stitching ([[EventStreams.identityStitch]]):
    * CC over the bipartite user–device graph, then per-identity rollup.
    * Oracle: recursive-CTE reachability over the same edges. */
  val evIdentityStitch = Q(
    "ev_identity_stitch",
    """WITH RECURSIVE f AS (SELECT user_id, props,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM events),
      |ud AS (SELECT user_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dev
      |  FROM f WHERE rn = 1),
      |e AS (SELECT user_id * 2 AS u, dev * 2 + 1 AS v FROM ud),
      |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
      |reach (n, m) AS (
      |  SELECT u, u FROM und
      |  UNION
      |  SELECT r.n, w.v FROM reach r JOIN und w ON r.m = w.u),
      |comp AS (SELECT n, MIN(m) AS c FROM reach GROUP BY n),
      |ident AS (SELECT n // 2 AS user_id, c AS identity
      |  FROM comp WHERE n % 2 = 0)
      |SELECT i.identity, COUNT(DISTINCT ev.user_id) AS n_users,
      |  COUNT(*) AS n_events
      |FROM events ev JOIN ident i ON ev.user_id = i.user_id
      |GROUP BY 1""".stripMargin) { (s, d) =>
    EventStreams.identityStitch(s, Tables.events(s, d))
  }

  /** Sequential-pattern counts: 3-event-type runs per user ((ts,
    * event_id) order) — the frequent-subsequence mining a behavioural
    * pipeline runs beyond first-order transitions. One user-keyed
    * shuffle; two leads share the window; counts bounded by the type
    * domain cubed. */
  val evTrigrams = Q(
    "ev_trigrams",
    """WITH o AS (SELECT user_id, event_type AS a,
      |    lead(event_type, 1) OVER w AS b,
      |    lead(event_type, 2) OVER w AS c
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT a, b, c, COUNT(*) AS n
      |FROM o WHERE b IS NOT NULL AND c IS NOT NULL
      |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type").as("a"),
        lead(col("event_type"), 1).over(w).as("b"),
        lead(col("event_type"), 2).over(w).as("c"))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n"))
  }

  /** A/B experiment metric table: per (variant = user_id parity,
    * event_type) the exact count, value sum (1e-4 units) and sum of
    * squares — everything a t-test/CUPED computes from, carried exactly
    * (squares in int128/DECIMAL, digit-string boundary) so the stats
    * layer gets unrounded inputs. One fact aggregation. */
  val evAbMetrics = Q(
    "ev_ab_metrics",
    """WITH q AS (SELECT user_id % 2 AS variant, event_type,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vq
      |  FROM events)
      |SELECT variant, event_type, COUNT(*) AS n,
      |  CAST(SUM(vq) AS BIGINT) AS sum_q,
      |  CAST(SUM(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS VARCHAR)
      |    AS ss_q
      |FROM q GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select((col("user_id") % 2).as("variant"), col("event_type"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vq"))
      .groupBy(col("variant"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("vq")).as("sum_q"),
        sum((col("vq").cast("decimal(38,0)") * col("vq").cast("decimal(38,0)"))
          .cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("ss_q"))
  }

  /** Semi-structured extraction through Spark 4's VARIANT type
    * (`parse_json` → binary variant → typed `variant_get`) — the
    * open-table-format path for schemaless columns, vs
    * ev_json_extract's string-path `get_json_object`. A missing path
    * proves the null contract. The oracle extracts the same facts from
    * the JSON text. */
  val evVariantExtract = Q(
    "ev_variant_extract",
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |  json_extract_string(props, '$.missing') AS missing
      |FROM events""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      expr("variant_get(parse_json(props), '$.k', 'int')").as("k"),
      expr("variant_get(parse_json(props), '$.missing', 'string')")
        .as("missing"))
  }

  /** Wide→long UNPIVOT (melt): per-user conditional-aggregate metric
    * columns (clicks/purchases/views) relational-operator-unpivoted to
    * (user, metric, n) rows via Dataset.unpivot — the inverse of
    * `ev_pivot`, and a narrow operator at scale: one generate per row,
    * zero additional shuffles above the aggregate. The oracle emits the
    * same long form as three conditional aggregates UNION ALL'd. */
  val evUnpivot = Q(
    "ev_unpivot",
    """WITH w AS (SELECT user_id,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views
      |  FROM events GROUP BY 1)
      |SELECT user_id, 'clicks' AS metric, CAST(clicks AS BIGINT) AS n FROM w
      |UNION ALL
      |SELECT user_id, 'purchases', CAST(purchases AS BIGINT) FROM w
      |UNION ALL
      |SELECT user_id, 'views', CAST(views AS BIGINT) FROM w""".stripMargin) {
    (s, d) =>
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
      .unpivot(Array(col("user_id")),
        Array(col("clicks"), col("purchases"), col("views")), "metric", "n")
  }

  /** Z-order (Morton) data-layout audit — the lakehouse OPTIMIZE ZORDER
    * pass expressed as a query: events quantize to an 8-bit user bucket ×
    * 8-bit time-of-day bucket grid, interleave to a 16-bit Z key
    * ([[graft.ops.Scale.mortonInterleave]] — pure integer shifts, codegen,
    * zero shuffles to compute), and group into 64 "files" of 1024
    * consecutive Z values each. Because 1024 = 2¹⁰ interleaved bits, every
    * file covers exactly a 32×32 block of the 256×256 grid: the reported
    * per-file min/max stay tight on BOTH dimensions (span ≤ 1024 vs up to
    * 65536 for a layout sorted by neither), which is what lets either
    * predicate prune files at 100 TB. The layout pass itself is a
    * repartitionByRange on the Z key; this query audits the bound. */
  val xZorderLayout = {
    val mortonSql = (0 until 8).map(j =>
      s"(((x >> $j) & 1) << ${2 * j}) + (((y >> $j) & 1) << ${2 * j + 1})")
      .mkString(" + ")
    Q(
      "x_zorder_layout",
      s"""WITH b AS (SELECT user_id % 256 AS x,
         |    (CAST(floor(epoch(ts)) AS BIGINT) % 86400) * 256 // 86400 AS y
         |  FROM events),
         |z AS (SELECT x, y, $mortonSql AS z FROM b)
         |SELECT z // 1024 AS file_id, COUNT(*) AS n,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y,
         |  (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS span
         |FROM z GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select((col("user_id") % 256).as("x"),
          expr("(unix_timestamp(ts) % 86400) * 256 div 86400").as("y"))
        .withColumn("z", graft.ops.Scale.mortonInterleave(
          col("x"), col("y"), 8))
        .groupBy(expr("z div 1024").as("file_id"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          ((max(col("x")) - min(col("x")) + 1)
            * (max(col("y")) - min(col("y")) + 1)).as("span"))
    }
  }

  /** Split-conformal coverage audit over event values
    * ([[graft.ops.DataQuality.conformalCoverage]]): calibration half =
    * even event_ids, group = event_type, α = 0.1 → per type the exact
    * ⌈(n+1)·0.9⌉-th-smallest integer nonconformity threshold and the odd
    * half's empirical coverage at it (≈ 900000 ppm by the conformal
    * guarantee when the halves are exchangeable — which a hash split
    * makes them). Everything integer or ppm, so the oracle replays the
    * order statistic and the verdicts bit-exact. */
  val xConformal = Q(
    "x_conformal",
    """WITH q AS (SELECT event_type, event_id % 2 = 0 AS cal,
      |    CAST(floor(value * 1000000) AS BIGINT) AS vq FROM events),
      |cs AS (SELECT event_type, COUNT(*) AS n_cal,
      |    CAST(SUM(vq) AS BIGINT) AS s FROM q WHERE cal GROUP BY 1),
      |rr AS (SELECT event_type, n_cal, s,
      |    ((n_cal + 1) * 9 + 9) // 10 AS r FROM cs),
      |calsc AS (SELECT q.event_type, abs(q.vq * rr.n_cal - rr.s) AS score
      |  FROM q JOIN rr USING (event_type) WHERE cal),
      |d AS (SELECT event_type, score, COUNT(*) AS c FROM calsc GROUP BY 1, 2),
      |cum AS (SELECT event_type, score,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY score
      |      ROWS UNBOUNDED PRECEDING) AS cum FROM d),
      |qh AS (SELECT cum.event_type, min(score) AS qhat
      |  FROM cum JOIN rr USING (event_type) WHERE cum >= r GROUP BY 1),
      |tst AS (SELECT q.event_type, rr.n_cal, rr.r,
      |    abs(q.vq * rr.n_cal - rr.s) AS score
      |  FROM q JOIN rr USING (event_type) WHERE NOT cal)
      |SELECT t.event_type, t.n_cal, t.r, qh.qhat,
      |  COUNT(*) AS n_test,
      |  CAST(SUM(CASE WHEN t.score <= qh.qhat THEN 1 ELSE 0 END) AS BIGINT)
      |    AS covered,
      |  CAST(SUM(CASE WHEN t.score <= qh.qhat THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // COUNT(*) AS coverage_ppm
      |FROM tst t JOIN qh ON t.event_type = qh.event_type
      |GROUP BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
    graft.ops.DataQuality.conformalCoverage(
      Tables.events(s, d), "event_type", col("value"),
      col("event_id") % 2 === 0, alphaNumer = 1, alphaDenom = 10)
  }

  val all: Seq[Q] = Seq(evTumbling, evSliding, evSessionize, evFirstPerKey, evFunnel,
    evIntervalJoin, evAsofJoin, evRolling, evRetention, evStreaks,
    evAsofForward, evTransitions, evScd2, evAnomaly, evRfm, evOhlc, evGapStats,
    evDistinctRunning, evAsofNearest, evDecayScore, evMarkovStationary,
    evIdentityStitch, evTrigrams, evAbMetrics, evVariantExtract,
    evCohortLtv, evSeasonality, evAttributionMulti, evUnpivot,
    xZorderLayout, xConformal)
}
