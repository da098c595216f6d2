package graft.streaming

import graft.SparkSpec

/** The batch event-log operators on hand-built inputs: causality, frame
  * bounds, per-user isolation and tie-breaks the driver tables may not
  * exercise. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("funnel causality: pre-view clicks and pre-click purchases never count") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val ev = Seq(
      // user 1: click BEFORE first view → click must not count; purchase
      // after view but with no qualifying click → must not count either
      (1L, ts(10), "click"), (1L, ts(20), "view"), (1L, ts(30), "purchase"),
      // user 2: proper view→click→purchase, plus same-ts click (counts, >=)
      (2L, ts(10), "view"), (2L, ts(10), "click"), (2L, ts(40), "purchase"),
      // user 3: no view at all → absent from the funnel
      (3L, ts(5), "click"), (3L, ts(6), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = EventStreams.funnel(ev)
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((1L, 20L, None, None, 1)))
    assert(got(2L) === ((2L, 10L, Some(10L), Some(40L), 3)))
  }

  test("rollingStats: row-bounded frame, per-user isolation") {
    import org.apache.spark.sql.functions.to_timestamp
    val e = Seq(
      (1L, "2026-01-01 00:00:00", 10L, 1.5),
      (2L, "2026-01-01 00:01:00", 10L, 2.5),
      (3L, "2026-01-01 00:02:00", 10L, 4.0),
      (4L, "2026-01-01 00:00:30", 20L, 7.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventStreams.rollingStats(e, w = 2)
      .orderBy("user_id", "event_id")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    assert(got(0) === ((10L, 1L, 1L, 1.5, 1.5, 1.5))) // frame of one
    assert(got(1) === ((10L, 2L, 2L, 4.0, 1.5, 2.5)))
    assert(got(2) === ((10L, 3L, 2L, 6.5, 2.5, 4.0))) // event 1 aged out
    assert(got(3) === ((20L, 4L, 1L, 7.0, 7.0, 7.0))) // other user isolated
  }

  test("decayScore: newest event carries 2^(w-1), window bounded at w, " +
    "per-user isolation") {
    import org.apache.spark.sql.functions.to_timestamp
    val e = Seq(
      (1L, "2026-01-01 00:00:00", 10L, 1.0),
      (2L, "2026-01-01 00:01:00", 10L, 2.0),
      (3L, "2026-01-01 00:02:00", 10L, 4.0),
      (4L, "2026-01-01 00:00:00", 20L, 0.5)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", to_timestamp($"ts"))
    // w=2: user 10 keeps events 3 (rank 1, weight 2) and 2 (rank 2,
    // weight 1); event 1 ages out. vq = value*10000.
    val got = EventStreams.decayScore(e, w = 2)
      .orderBy("user_id").as[(Long, Long, Long)].collect()
    assert(got(0) === ((10L, 40000L * 2 + 20000L * 1, 2L)))
    assert(got(1) === ((20L, 5000L * 2, 1L)))
  }

  test("retentionCohorts: users bucket by first-seen week, offsets count") {
    import org.apache.spark.sql.functions.to_timestamp
    // epoch week 0 starts 1970-01-01; week 1 starts 1970-01-08
    val e = Seq(
      (1L, "1970-01-02 00:00:00", 1L), // u1 cohort week 0
      (2L, "1970-01-02 01:00:00", 1L), // same week, still one (user,week) row
      (3L, "1970-01-09 00:00:00", 1L), // u1 back in week 1
      (4L, "1970-01-09 00:00:00", 2L)  // u2 cohort week 1
    ).toDF("event_id", "ts", "user_id")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventStreams.retentionCohorts(e)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 0L, 1L), (0L, 1L, 1L), (1L, 0L, 1L)))
  }

  test("activityStreaks: consecutive days fuse, gaps split") {
    import org.apache.spark.sql.functions.to_timestamp
    val e = Seq(
      // u1: days 0,1,2 then 5,6 → streaks of 3 and 2
      (1L, "1970-01-01 05:00:00", 1L), (2L, "1970-01-02 05:00:00", 1L),
      (3L, "1970-01-03 05:00:00", 1L), (4L, "1970-01-06 05:00:00", 1L),
      (5L, "1970-01-07 05:00:00", 1L),
      // two events same day count once
      (6L, "1970-01-07 09:00:00", 1L),
      // u2: one day
      (7L, "1970-01-01 00:00:00", 2L)
    ).toDF("event_id", "ts", "user_id")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventStreams.activityStreaks(e)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 3L, 5L), (2L, 1L, 1L, 1L)))
  }

  test("eventTransitions: adjacency counts and ppm rows normalize per source") {
    import org.apache.spark.sql.functions.to_timestamp
    val e = Seq(
      (1L, "2026-01-01 00:00:00", 1L, "view"),
      (2L, "2026-01-01 00:01:00", 1L, "click"),
      (3L, "2026-01-01 00:02:00", 1L, "view"),
      (4L, "2026-01-01 00:03:00", 1L, "view"),
      (5L, "2026-01-01 00:00:00", 2L, "view"),
      (6L, "2026-01-01 00:01:00", 2L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventStreams.eventTransitions(e)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === Set(
      ("view", "click", 2L, 666666L),
      ("view", "view", 1L, 333333L),
      ("click", "view", 1L, 1000000L)))
  }

  test("scd2Intervals: same-state runs fuse, intervals abut, last is current") {
    import org.apache.spark.sql.functions.to_timestamp
    val e = Seq(
      (1L, "1970-01-01 00:00:00", 1L, "a"),
      (2L, "1970-01-01 00:00:10", 1L, "a"), // same run
      (3L, "1970-01-01 00:00:20", 1L, "b"),
      (4L, "1970-01-01 00:00:30", 1L, "a")  // a returns → NEW run
    ).toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventStreams.scd2Intervals(e)
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got === Set(
      (1L, "a", 0L, Some(20L), false),
      (1L, "b", 20L, Some(30L), false),
      (1L, "a", 30L, None, true)))
  }

  test("ohlcBars: rank-deterministic open/close, min/max, hour isolation") {
    import org.apache.spark.sql.functions.to_timestamp
    val e = Seq(
      // user 1, hour 10: open=5 (earliest ts; event_id breaks the ts tie
      // between ids 1 and 2), close=1, low=1, high=9
      (1L, "2026-01-01 10:00:00", 1L, 5.0),
      (2L, "2026-01-01 10:00:00", 1L, 9.0),
      (3L, "2026-01-01 10:30:00", 1L, 1.0),
      // user 1, hour 11: singleton bar — all four prices equal
      (4L, "2026-01-01 11:05:00", 1L, 7.0),
      // user 2 isolated
      (5L, "2026-01-01 10:10:00", 2L, 3.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventStreams.ohlcBars(e)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    val h10 = java.time.LocalDateTime.of(2026, 1, 1, 10, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    assert(got((1L, h10)) === ((3L, 5.0, 1.0, 1.0, 9.0)))
    assert(got((1L, h10 + 3600)) === ((1L, 7.0, 7.0, 7.0, 7.0)))
    assert(got((2L, h10)) === ((1L, 3.0, 3.0, 3.0, 3.0)))
  }

  test("anomalyFlags: upper-median threshold, per-user isolation") {
    import org.apache.spark.sql.functions.to_timestamp
    val e = Seq(
      (1L, "2026-01-01 00:00:00", 1L, 1.0), (2L, "2026-01-01 00:01:00", 1L, 2.0),
      (3L, "2026-01-01 00:02:00", 1L, 3.0), (4L, "2026-01-01 00:03:00", 1L, 100.0),
      (5L, "2026-01-01 00:00:00", 2L, 5.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventStreams.anomalyFlags(e)
      .as[(Long, Long, Double, Double, Boolean)].collect()
      .map(r => r._2 -> ((r._4, r._5))).toMap
    // u1: sorted 1,2,3,100, n=4 → upper median rn=3 → med=3
    assert(got(1L) === ((3.0, false)) && got(4L) === ((3.0, true)))
    // u2: singleton → med = own value, 5 > 10 is false
    assert(got(5L) === ((5.0, false)))
  }

  test("multiTouchAttribution: U-shape credits for n = 1, 2, 4; clicks " +
    "outside the lookback excluded") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new Timestamp(s * 1000L)
    def row(id: Long, u: Long, t: Long, tpe: String) =
      (id, u, ts(t), tpe, 1.0)
    // user 1: 1 click → 100%; user 2: 2 clicks → 50/50;
    // user 3: 4 clicks → 40/10/10/40; user 4: click 700s before → excluded
    val ev = Seq(
      row(10, 1, 100, "click"), row(11, 1, 200, "purchase"),
      row(20, 2, 100, "click"), row(21, 2, 150, "click"),
      row(22, 2, 300, "purchase"),
      row(30, 3, 100, "click"), row(31, 3, 150, "click"),
      row(32, 3, 200, "click"), row(33, 3, 250, "click"),
      row(34, 3, 400, "purchase"),
      row(40, 4, 100, "click"), row(41, 4, 800, "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = EventStreams.multiTouchAttribution(ev)
      .select(col("purchase_id"), col("touch_pos"), col("click_id"),
        col("credit_ppm"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got === Map(
      (11L, 1L) -> ((10L, 1000000L)),
      (22L, 1L) -> ((20L, 500000L)), (22L, 2L) -> ((21L, 500000L)),
      (34L, 1L) -> ((30L, 400000L)), (34L, 2L) -> ((31L, 100000L)),
      (34L, 3L) -> ((32L, 100000L)), (34L, 4L) -> ((33L, 400000L))))
  }
}
