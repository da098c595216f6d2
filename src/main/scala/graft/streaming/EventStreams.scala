package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log analytics (SURVEY §2.10: absent from the reference, additive
  * here): window aggregation, sessionization, keyed dedup, funnels,
  * interval and as-of joins, rolling and running per-user state over the
  * `events` table — each a batch DataFrame transform that an
  * `EventQueries` entry runs and the oracle checks. There is no separate
  * streaming body: Structured Streaming runs a batch plan incrementally,
  * and the engine's own streaming surface is the `graft-snapshot` sink and
  * `graft-snapshot-cdf` source (`s_snapshot_sink_stream`,
  * `s_snapshot_cdf_stream`).
  *
  * Determinism: window keys are emitted as epoch seconds or formatted
  * strings (parquet µs vs external-engine ns precision never meets the
  * comparison); sums of doubles go through DECIMAL.
  */
object EventStreams {

  /** Tumbling 1-hour windows per event type. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))

  /** OHLC downsampling bars: per (user, hour) the first/last/min/max of
    * `value` — the open-high-low-close time-series compaction (metrics
    * rollup, market bars). First/last are deterministic via (ts,
    * event_id)-ordered rank — `first()`/`last()` aggregate functions are
    * arrival-order dependent on a cluster and never used here. One
    * shuffle on the (user, hour) key; the two rank windows share its
    * partitioning (two sorts, no second exchange), and values pass
    * through un-summed so doubles stay bit-exact. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val keyed = events.withColumn("hour",
      unix_timestamp(date_trunc("hour", col("ts"))).cast("long"))
    val wA = Window.partitionBy(col("user_id"), col("hour"))
      .orderBy(col("ts"), col("event_id"))
    val wD = Window.partitionBy(col("user_id"), col("hour"))
      .orderBy(col("ts").desc, col("event_id").desc)
    keyed
      .withColumn("rn_a", row_number().over(wA))
      .withColumn("rn_d", row_number().over(wD))
      .groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        min(col("value")).as("low"),
        max(col("value")).as("high"))
  }

  /** Sliding 10-minute windows every 5 minutes, keyed by epoch-second
    * window start: each event lands in exactly two windows. */
  def slidingAgg(events: DataFrame): DataFrame = {
    val base = (floor(unix_timestamp(col("ts")) / 300) * 300).cast("long")
    events
      .select(col("event_type"), col("value"),
        explode(array(base - 300, base)).as("window_start"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
  }

  /** Sessionization, 5-minute inactivity gap: classic gaps-and-islands
    * (lag + running sum of session starts) per user. Output one row per
    * session: (user_id, session_start epoch, n_events). */
  def sessionize(events: DataFrame, gapSeconds: Long = 300): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val epoch = col("ts").cast("double") // µs-precision seconds
    events
      .withColumn("prev", lag(epoch, 1).over(byUser))
      .withColumn("new_session",
        when(col("prev").isNull || epoch - col("prev") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(floor(min(epoch)).cast("long").as("session_start"),
        count(lit(1)).as("n_events"))
      .drop("session_seq")
  }

  /** Keyed dedup: first event per (user, type) with deterministic
    * tie-break — the batch shape of dropDuplicatesWithinWatermark. */
  def firstEventPerKey(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("first_epoch"))
  }

  /** View→click→purchase conversion funnel per user with CAUSAL ordering:
    * first view, then first click at-or-after that view, then first
    * purchase at-or-after that click (a click before any view never
    * counts). One row per user who viewed; stage ∈ {1,2,3}.
    *
    * Scale: every join and aggregation keys on user_id, so one hash
    * partitioning serves all three stages (co-partitioned joins, no
    * re-shuffle of the big side beyond the first exchange). */
  def funnel(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vts"))
    val c = events.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("vts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("cts"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") >= col("cts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("pts"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        unix_timestamp(col("vts")).as("first_view"),
        unix_timestamp(col("cts")).as("first_click"),
        unix_timestamp(col("pts")).as("first_purchase"),
        (lit(1) + when(col("cts").isNotNull, 1).otherwise(0)
          + when(col("pts").isNotNull, 1).otherwise(0)).as("stage"))
  }

  /** Rolling per-user stats over the last `w` events (inclusive), in
    * (event-time, event_id) order — the moving-window feature idiom.
    * The DECIMAL detour on the sum keeps the double bit-exact across
    * engines (same discipline as the window aggregations above).
    * Scale: one hash shuffle on user_id; the frame is row-bounded so
    * state per row is O(w). */
  def rollingStats(events: DataFrame, w: Int = 5): DataFrame = {
    val win = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(w - 1), Window.currentRow)
    events.select(
      col("user_id"), col("event_id"),
      count(lit(1)).over(win).as("roll_n"),
      sum(col("value").cast("decimal(18,4)")).over(win)
        .cast("double").as("roll_sum"),
      min(col("value")).over(win).as("roll_min"),
      max(col("value")).over(win).as("roll_max"))
  }

  /** Weekly cohort retention: users bucketed by first-seen week; one row
    * per (cohort_week, week_offset) with the distinct-user count active
    * that many weeks after their cohort start. The (user, week) pre-
    * distinct makes the final count a plain COUNT(*) — each user
    * contributes at most one row per week. Scale: two hash aggregations
    * + one equi-join on user_id, all key-partitioned. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val wk = events.select(col("user_id"),
      floor(unix_timestamp(col("ts")) / 604800).cast("long").as("week"))
      .distinct()
    val cohort = wk.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    wk.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Gaps-and-islands: per-user runs of consecutive active days (the
    * row_number-difference grouping idiom). Output per user: number of
    * distinct active days, number of streaks, and the longest streak.
    * Scale: day-distinct then one user-partitioned window — group size
    * is bounded by days, not events. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"),
      floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
      .distinct()
    val rn = row_number().over(
      Window.partitionBy(col("user_id")).orderBy(col("day")))
    days.withColumn("grp", col("day") - rn)
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
  }

  /** RFM (recency/frequency/monetary) customer segmentation over purchase
    * events: "now" is the corpus max purchase time (a one-row broadcast),
    * monetary goes through the DECIMAL detour, and the three 1..5 scores
    * are exact ntile buckets under total orders (user_id tie-break) —
    * score 1 = most recent / most frequent / highest spend.
    *
    * Scale shape: NO global ntile windows (one row per purchasing user is
    * still fact-scale cardinality — at 100× every user would land on one
    * task, three times). Each score is `Scale.binnedGlobalRank` +
    * `Scale.ntileFromRank`: integer metrics bin on their own bounded value
    * domain (distinct recency days / frequencies), the continuous monetary
    * metric bins into 4096 fixed-width cells from a broadcast min/max;
    * ranks assemble from broadcast bin prefix-sums + partitioned in-bin
    * row numbers, and the ntile arithmetic is map-side. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_timestamp(col("ts")).as("s"), col("value"))
    val now = p.agg(max(col("s")).as("now_s"))
    val per = p.groupBy(col("user_id")).agg(
      max(col("s")).as("last_s"),
      count(lit(1)).as("frequency"),
      sum(col("value").cast("decimal(18,4)")).cast("double").as("monetary"))
    // one broadcast row: user count + monetary bin range (chaining three
    // independent binnedGlobalRank calls would re-derive the upstream in
    // every offset branch — 2^3 plan copies; this form computes all three
    // offset maps from ONE pass over base, so base appears exactly twice)
    val stats = per.agg(count(lit(1)).as("__n"),
      min(col("monetary")).as("__mlo"), max(col("monetary")).as("__mhi"))
    val base = per.crossJoin(broadcast(now))
      .withColumn("recency_days", expr("(now_s - last_s) div 86400"))
      .crossJoin(broadcast(stats))
    val mWidth = greatest((col("__mhi") - col("__mlo")) / lit(4096.0),
      lit(1e-9))
    val binned = base
      .withColumn("__rbin", col("recency_days"))
      .withColumn("__fbin", col("frequency"))
      .withColumn("__mbin",
        least(floor((col("monetary") - col("__mlo")) / mWidth), lit(4095))
          .cast("long"))
    // all three bin-count maps in one exploded aggregation; the prefix-sum
    // window is partitioned by metric and ordered by a per-metric signed
    // key (recency ranks ascending, frequency/monetary descending)
    val counts = binned.select(explode(array(
      struct(lit("r").as("m"), col("__rbin").as("bin")),
      struct(lit("f").as("m"), col("__fbin").as("bin")),
      struct(lit("m").as("m"), col("__mbin").as("bin")))).as("x"))
      .select(col("x.m").as("m"), col("x.bin").as("bin"))
      .groupBy(col("m"), col("bin")).agg(count(lit(1)).as("cnt"))
    val wOff = Window.partitionBy(col("m"))
      .orderBy(when(col("m") === "r", col("bin")).otherwise(-col("bin")))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
    def offMap(metric: String, binName: String, offName: String) =
      broadcast(offs.filter(col("m") === metric)
        .select(col("bin").as(binName), col("off").as(offName)))
    def inBin(binName: String, ord: Seq[org.apache.spark.sql.Column]) =
      row_number().over(Window.partitionBy(col(binName)).orderBy(ord: _*))
    val ranked = binned
      .join(offMap("r", "__rbin", "__roff"), Seq("__rbin"))
      .join(offMap("f", "__fbin", "__foff"), Seq("__fbin"))
      .join(offMap("m", "__mbin", "__moff"), Seq("__mbin"))
      .withColumn("__r_rank", col("__roff") +
        inBin("__rbin", Seq(col("recency_days").asc, col("user_id").asc)))
      .withColumn("__f_rank", col("__foff") +
        inBin("__fbin", Seq(col("frequency").desc, col("user_id").asc)))
      .withColumn("__m_rank", col("__moff") +
        inBin("__mbin", Seq(col("monetary").desc, col("user_id").asc)))
    ranked.select(col("user_id"), col("recency_days"), col("frequency"),
      col("monetary"),
      graft.ops.Scale.ntileFromRank(col("__r_rank"), col("__n"), 5)
        .as("r_score"),
      graft.ops.Scale.ntileFromRank(col("__f_rank"), col("__n"), 5)
        .as("f_score"),
      graft.ops.Scale.ntileFromRank(col("__m_rank"), col("__n"), 5)
        .as("m_score"))
  }

  /** Median-threshold anomaly flags: an event is anomalous when its value
    * exceeds twice its user's (upper-)median value. The median is the
    * deterministic rank-select idiom (rn = n div 2 + 1 under a
    * (value, event_id) total order — an exact element, never an
    * interpolated float). Scale: one user-partitioned window + one
    * equi-join back on user_id. */
  def anomalyFlags(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
    val med = events
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("__rn") === expr("__n div 2") + 1)
      .select(col("user_id"), col("value").as("med"))
    events.join(med, Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("value"), col("med"),
        (col("value") > lit(2) * col("med")).as("is_anomaly"))
  }

  /** Click→purchase attribution interval join (batch form): purchases by
    * the same user within `windowSeconds` after a click. lag_sec is the
    * whole-second event-time gap. */
  def intervalJoin(events: DataFrame, windowSeconds: Long = 600): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") < col("click_ts")
          + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
          .as("lag_sec"))
  }

  /** U-shaped MULTI-touch attribution: every click in the `windowSeconds`
    * lookback before a purchase gets a deterministic ppm credit share —
    * 100% for a single touch, 50/50 for two, else 40% first + 40% last +
    * 20% split evenly over the middles (integer division; the ≤(n-3) ppm
    * rounding shortfall is documented, not smeared). The position-aware
    * complement of [[asOfAttribution]]'s last-touch and
    * [[decayScores]]'s exponential decay.
    *
    * Scale: the lookback pairing is the [[intervalJoin]] equi-join on
    * user; the position windows partition on purchase_id — a
    * high-cardinality key whose group size is bounded by
    * clicks-per-user-per-window, never a corpus-wide or small-domain
    * partition. Output: (user_id, purchase_id, click_id, touch_pos,
    * n_touch, credit_ppm). */
  def multiTouchAttribution(
      events: DataFrame, windowSeconds: Long = 600): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_id"))
    val paired = intervalJoin(events, windowSeconds)
      .withColumn("touch_pos", row_number().over(
        w.orderBy(col("lag_sec").desc, col("click_id"))).cast("long"))
      .withColumn("n_touch", count(lit(1)).over(w))
    paired.select(col("user_id"), col("purchase_id"), col("click_id"),
      col("touch_pos"), col("n_touch"),
      when(col("n_touch") === 1, lit(1000000L))
        .when(col("n_touch") === 2, lit(500000L))
        .when(col("touch_pos") === 1 || col("touch_pos") === col("n_touch"),
          lit(400000L))
        .otherwise(expr("200000 div (n_touch - 2)"))
        .as("credit_ppm"))
  }

  /** Click→purchase AS-OF attribution: each purchase is matched to the
    * LATEST click by the same user at-or-before the purchase instant
    * (last-touch attribution — vs [[intervalJoin]]'s every-click-in-window
    * fan-out). Clicks are pre-deduped to one per (user, instant) by max
    * event_id, the determinism contract of [[graft.ops.TemporalJoins.asOfJoin]].
    * Left semantics: purchases with no prior click keep null click_id /
    * lag_sec. */
  def asOfAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    graft.ops.TemporalJoins.asOfJoin(purchases, clicks, "user_id", "ts")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("ts_right")))
          .as("lag_sec"))
  }

  /** Forward as-of: every click attributed to the NEXT purchase at or
    * after it (time-to-convert measurement) — the mirror of
    * [[asOfAttribution]], on [[graft.ops.TemporalJoins.asOfJoinForward]].
    * Clicks are the probe side; purchases are deduplicated per (user, ts)
    * as the forward-asof determinism contract requires. */
  def asOfNextPurchase(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_id"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    graft.ops.TemporalJoins.asOfJoinForward(clicks, purchases, "user_id", "ts")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("ts_right")) - unix_timestamp(col("ts")))
          .as("wait_sec"))
  }

  /** Nearest-click match: every purchase paired with the temporally
    * CLOSEST click of the same user — either direction, ties to the
    * earlier click (session reconstruction when attribution order is
    * unknown), on [[graft.ops.TemporalJoins.asOfJoinNearest]]. `delta_us`
    * is signed exact microseconds (purchase − click): positive = the
    * nearest click preceded the purchase. Clicks are pre-deduped per
    * (user, instant) as the nearest-asof determinism contract requires. */
  def nearestClickMatch(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    graft.ops.TemporalJoins.asOfJoinNearest(purchases, clicks, "user_id", "ts")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("ts_right")))
          .as("delta_us"))
  }

  /** Dyadic recency-decayed engagement score: over each user's most
    * recent `w` events (by (ts, event_id) descending), the weighted sum
    * Σ v_q · 2^(w−r) where r = recency rank (newest = 1) and v_q is the
    * value quantized to exact 1e-4 units through DECIMAL(18,4). A power-
    * of-two decay (α = 1/2 per step) keeps every term an exact BIGINT —
    * no float pow, engine-replicable bit-for-bit. With w = 16 the largest
    * multiplier is 2^15; |v_q| ≤ 10^7 for |value| ≤ 10^3, so the per-user
    * sum stays ≤ ~5·10^12 ≪ 2^63.
    *
    * Scale: one user-keyed shuffle; the rank window is user-partitioned
    * and the sum is a partial agg on the same partitioning. */
  def decayScore(events: DataFrame, w: Int = 16): DataFrame = {
    val rw = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(rw))
      .filter(col("rn") <= w)
      .withColumn("vq",
        (col("value").cast("decimal(18,4)") * 10000).cast("long"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("vq") *
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST($w - rn AS INT))"))
          .as("decay_q"),
        count(lit(1)).as("n_recent"))
  }

  /** Event-type transition matrix (first-order Markov counts): adjacent
    * (event, next-event) pairs in each user's (ts, event_id) order, with
    * the per-source transition probability in fixed-point ppm (see the
    * Relevance module scaladoc for why scores avoid floats). Scale: one
    * shuffle on user_id for adjacency, one hash agg on the (from, to)
    * pair, one window over the TYPE domain (bounded, tiny). */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm", expr(
        "(n * 1000000) div sum(n) over (partition by from_type)"))
  }

  /** Fixed-round Markov power iteration over the event-type transition
    * matrix: start uniform (10⁶ div T ppm per type), then
    * p′_j = Σ_i p_i·P_ij div 10⁶ per round — all integer, so engine and a
    * generator-unrolled oracle agree bit-for-bit (the fixed-round
    * contract of kCore/weightedSssp applied to a stochastic matrix). The
    * stationary estimate ranks event types by long-run visit share.
    * Scale: every frame is bounded by the TYPE domain — joins and aggs
    * are dimension-sized regardless of event volume; only the transition
    * count scans the facts (once). */
  def markovStationary(events: DataFrame, rounds: Int = 4): DataFrame = {
    val tr = eventTransitions(events)
      .select(col("from_type").as("f"), col("to_type").as("t"),
        col("p_ppm").as("pp"))
    val ty = events.select(col("event_type")).distinct()
    val tn = ty.agg(count(lit(1)).as("__t"))
    var p = ty.crossJoin(broadcast(tn))
      .select(col("event_type"), expr("1000000 div __t").as("p"))
    for (_ <- 1 to rounds) {
      p = p.join(tr, col("event_type") === col("f"))
        .groupBy(col("t"))
        .agg(expr("CAST(sum(p * pp) div 1000000 AS BIGINT)").as("p"))
        .select(col("t").as("event_type"), col("p"))
    }
    p.select(col("event_type"), col("p").as("p_ppm"))
  }

  /** Cross-key identity stitching: users sharing a device (here the
    * deterministic `props.k mod 40` stand-in) merge into one identity via
    * connected components over the bipartite user–device graph — the
    * industry identity-resolution pass BEFORE any per-identity analytics.
    * Output: per stitched identity, its member-user and event counts.
    * Scale: the edge build is one distinct projection of the facts; CC is
    * GraphX; the final rollup joins facts to the identity map on
    * user_id. */
  def identityStitch(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame): DataFrame = {
    // each user's "primary device" = the k of their FIRST event (the A1
    // keep-first idiom) — one edge per user keeps the bipartite graph
    // sparse, so identities are genuine small merges, not one blob
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ud = events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("dev"))
    val edges = ud.select((col("user_id") * 2).as("src"),
      (col("dev") * 2 + 1).as("dst"))
    val ident = graft.graph.GraphOps.connectedComponents(spark, edges)
      .filter(col("node") % 2 === 0)
      .select(expr("node div 2").as("user_id"),
        col("component").as("identity"))
    events.join(ident, Seq("user_id"))
      .groupBy(col("identity"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
  }

  /** SCD2 validity intervals from an event stream: consecutive runs of
    * the same event_type per user collapse to one row with
    * [valid_from, valid_to) epoch bounds; the current (last) state has a
    * null valid_to and is_current = true. The run grouping is the
    * gaps-and-islands change-flag prefix sum; both windows shuffle once
    * on user_id. */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = events
      .withColumn("__chg",
        when(lag(col("event_type"), 1).over(w) <=> col("event_type"), 0)
          .otherwise(1))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__run"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts")).as("__from"))
    // order runs by their id (monotone along the event order) — min ts
    // alone could tie when a single-event run shares its timestamp with
    // the next run's first event
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("__run"))
    runs
      .withColumn("__to", lead(col("__from"), 1).over(wRun))
      .select(col("user_id"), col("state"),
        unix_timestamp(col("__from")).as("valid_from"),
        unix_timestamp(col("__to")).as("valid_to"),
        col("__to").isNull.as("is_current"))
  }

  /** Per-user running distinct event-type count: each event carries its
    * user's distinct-type count INCLUDING itself, in (ts, event_id) order —
    * a first-occurrence flag per (user, type) summed by a running window,
    * both windows user-keyed. */
  def distinctTypesRunning(events: DataFrame): DataFrame = {
    val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("is_first",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"),
        sum(col("is_first")).over(wRun).as("n_distinct_types"))
  }
}

