package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.core.Tables

/** Structured-Streaming twins must agree with their batch counterparts when
  * a finite file source is fully processed (the guide's memory-sink
  * pattern). */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The streaming file source wants a directory; stage the single parquet
    * file into one. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Paths.get(scratch("graft-events"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  test("streaming tumbling agg equals batch tumbling agg") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.streamingTumblingAgg(stream), "tumbling", "complete")
    val streamed = spark.table("tumbling")
      .as[(String, String, Long, Double)].collect().toSet
    val batch = EventStreams.tumblingAgg(Tables.events(spark, sf))
      .as[(String, String, Long, Double)].collect().toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join equals the batch interval join") {
    val stream = EventStreams.readEventStreamRaw(spark, eventsDir)
    runToMemory(EventStreams.streamingIntervalJoin(stream), "ivjoin", "append")
    val streamed = spark.table("ivjoin")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = EventStreams.intervalJoin(Tables.events(spark, sf))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup emits one row per (user, type)") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.streamingDedup(stream), "dedup", "append")
    val n = spark.table("dedup").groupBy("user_id", "event_type").count()
      .filter($"count" > 1).count()
    assert(n === 0)
    val keys = spark.table("dedup").select("user_id", "event_type").distinct().count()
    val batchKeys = EventStreams.firstEventPerKey(Tables.events(spark, sf))
      .select("user_id", "event_type").distinct().count()
    assert(keys === batchKeys)
  }

  test("stream-static enrichment equals the batch join, unmatched kept") {
    val dim = Tables.customer(spark, sf)
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.enrichWithSegments(stream, dim), "enrich", "append")
    val streamed = spark.table("enrich")
      .as[(Long, Long, String, String)].collect().toSet
    val batch = EventStreams
      .enrichWithSegments(Tables.events(spark, sf), dim)
      .as[(Long, Long, String, String)].collect().toSet
    assert(streamed === batch)
    // left semantics: every event survives enrichment
    assert(streamed.size === Tables.events(spark, sf).count())
  }

  test("left-outer stream-stream join: inner part exact, outer part ⊆ batch") {
    val stream = EventStreams.readEventStreamRaw(spark, eventsDir)
    runToMemory(EventStreams.streamingIntervalJoinLeftOuter(stream),
      "lojoin", "append")
    val streamed = spark.table("lojoin")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    val batch = EventStreams.intervalJoinLeftOuter(Tables.events(spark, sf))
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    val (sInner, sOuter) = streamed.partition(_._3.isDefined)
    val (bInner, bOuter) = batch.partition(_._3.isDefined)
    // matched pairs must agree exactly; null-emits only fire once the
    // watermark passes, so clicks near the head of event time may be held
    assert(sInner === bInner)
    assert(sOuter.subsetOf(bOuter),
      s"streaming null-rows not in batch: ${sOuter.diff(bOuter).take(3)}")
    assert(sOuter.nonEmpty, "watermark never released an unmatched click")
  }

  test("flatMapGroupsWithState sessions are a subset of batch sessions") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.statefulSessionize(stream).toDF(), "fsessions", "append")
    val emitted = spark.table("fsessions")
      .as[(Long, Long, Long)].collect().toSet
    val batch = EventStreams.sessionize(Tables.events(spark, sf))
      .as[(Long, Long, Long)].collect().toSet
    // sessions still open when the finite stream ends are held in state
    // (never time out), so emitted ⊆ batch — and most sessions do close
    assert(emitted.nonEmpty)
    assert(emitted.subsetOf(batch),
      s"stateful sessions not in batch: ${emitted.diff(batch).take(3)}")
    assert(emitted.size >= batch.size / 2)
  }

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

  test("stateful funnel's final per-user rows equal the batch funnel") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.statefulFunnel(stream).toDF(), "sfunnel", "update")
    val emitted = spark.table("sfunnel")
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect()
    // stage is monotone per user; the max-stage emission is the final state
    val finalRows = emitted.groupBy(_._1).map(_._2.maxBy(_._5)).toSet
    val batch = EventStreams.funnel(Tables.events(spark, sf))
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect().toSet
    assert(batch.nonEmpty)
    assert(finalRows === batch)
  }

  test("foreachBatch parquet sink is restart-safe on the same checkpoint") {
    val out = scratch("graft-sink")
    val ckpt = scratch("graft-ckpt")
    def runOnce(): Unit = {
      val stream = EventStreams.readEventStream(spark, eventsDir)
      val q = EventStreams.streamToParquet(
        EventStreams.streamingTumblingAgg(stream), out, ckpt)
      q.awaitTermination(120000)
    }
    runOnce()
    val first = spark.read.parquet(s"$out/batch_*")
      .as[(String, String, Long, Double)].collect().toSet
    assert(first.nonEmpty)
    // restart with the same checkpoint: AvailableNow finds no new files,
    // writes nothing new, output unchanged (no duplicates)
    runOnce()
    val second = spark.read.parquet(s"$out/batch_*")
      .as[(String, String, Long, Double)].collect().toSet
    assert(second === first)
  }

  test("crashed commit replays the batch idempotently (exactly-once sink)") {
    val out = scratch("graft-sink2")
    val ckpt = scratch("graft-ckpt2")
    def runOnce(): Unit = {
      val stream = EventStreams.readEventStream(spark, eventsDir)
      val q = EventStreams.streamToParquet(
        EventStreams.streamingTumblingAgg(stream), out, ckpt)
      q.awaitTermination(120000)
    }
    runOnce()
    val first = spark.read.parquet(s"$out/batch_*")
      .as[(String, String, Long, Double)].collect().toSet
    val dirsFirst = new java.io.File(out).list().sorted.toSeq
    assert(first.nonEmpty)
    // simulate a crash BETWEEN the sink write and the checkpoint commit:
    // drop the newest commit marker, so the restarted query re-runs that
    // epoch. The batch-id-keyed overwrite must absorb the replay — same
    // directories, same rows, no duplicate epoch output.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.matches("\\d+"))
    val latest = commits.maxBy(_.getName.toLong)
    assert(latest.delete())
    // also drop the local-FS checksum shadow, or the re-written commit
    // marker fails its rename and reads as a concurrent-query clash
    val crc = new java.io.File(s"$ckpt/commits/.${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    runOnce()
    val second = spark.read.parquet(s"$out/batch_*")
      .as[(String, String, Long, Double)].collect().toSet
    assert(second === first)
    assert(new java.io.File(out).list().sorted.toSeq === dirsFirst)
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

  test("stateful streaming rolling stats equal the batch window form") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.statefulRollingStats(stream).toDF(),
      "rollstats", "append")
    val streamed = spark.table("rollstats")
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSet
    val batch = EventStreams.rollingStats(Tables.events(spark, sf))
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSet
    // bit-equality including the DECIMAL-replicated sums: the file source
    // delivers in order, so the in-batch (ts, event_id) sort makes the
    // trailing windows identical
    assert(streamed === batch)
  }

  test("statefulRollingStats keeps a quiet user's buffer across triggers " +
    "(timeout arms off event time, not the watermark)") {
    // three triggers: user 1 active, then only user 2 (watermark jumps),
    // then user 1 again WITHIN 1h of its own last event. Watermark-relative
    // timeout arming would expire user 1 in trigger 2 (first-trigger
    // watermark is 0 → timeout lands at epoch+1h) and its third event
    // would roll over an empty buffer; event-time arming keeps the buffer.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val input = ms.toDF.toDF("user_id", "ts", "event_id", "value")
      .withWatermark("ts", "10 minutes")
    val q = EventStreams.statefulRollingStats(input).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("rollsurvive").start()
    try {
      ms.addData((1L, ts(0), 1L, 10.0), (1L, ts(1), 2L, 20.0))
      q.processAllAvailable()
      ms.addData((2L, ts(50), 3L, 1.0))
      q.processAllAvailable()
      ms.addData((1L, ts(55), 4L, 30.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rollsurvive")
      .select(col("event_id"), col("roll_n"), col("roll_sum"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(4L) === ((3L, 60.0)),
      s"user 1's buffer was dropped between triggers: ${got(4L)}")
  }

  test("statefulDistinctTypes (transformWithState / state-v2 on RocksDB) " +
    "equals the batch running distinct-type count across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 09:$min%02d:00")
      val rows = Seq(
        (1L, ts(0), 1L, "view"), (1L, ts(1), 2L, "view"),
        (1L, ts(2), 3L, "click"), (2L, ts(3), 4L, "view"))
      val rows2 = Seq(
        (1L, ts(10), 5L, "purchase"), (1L, ts(11), 6L, "view"),
        (2L, ts(12), 7L, "click"))
      val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      val input = ms.toDF.toDF("user_id", "ts", "event_id", "event_type")
      val q = EventStreams.statefulDistinctTypes(input).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("twsdistinct").start()
      try {
        ms.addData(rows: _*)
        q.processAllAvailable()
        ms.addData(rows2: _*) // state (seen set + count) must survive
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("twsdistinct")
        .as[(Long, Long, Long)].collect().toSet
      val batch = EventStreams.distinctTypesRunning(
        (rows ++ rows2).toDF("user_id", "ts", "event_id", "event_type"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
      // spot-check: user 1 sees view=1, view=1, click=2, purchase=3, view=3
      val byEvent = streamed.map(r => r._2 -> r._3).toMap
      assert(byEvent(1L) === 1L && byEvent(3L) === 2L &&
        byEvent(5L) === 3L && byEvent(6L) === 3L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
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

  test("streamingDedup suppresses within-watermark redelivery across " +
    "triggers and emits each key once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val input = ms.toDF.toDF("event_id", "ts", "value")
    val q = EventStreams.streamingDedup(input, Seq("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedupstream").start()
    try {
      // trigger 1: ids 1,2 plus an in-batch dup of 1
      ms.addData((1L, ts(0), 10.0), (2L, ts(1), 20.0), (1L, ts(2), 99.0))
      q.processAllAvailable()
      // trigger 2: id 2 redelivered within the watermark + new id 3
      ms.addData((2L, ts(3), 88.0), (3L, ts(4), 30.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedupstream")
      .select(col("event_id"), col("value"))
      .as[(Long, Double)].collect().toMap
    // one row per key, first arrival wins (value 10/20, never 99/88)
    assert(got === Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
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

  test("streaming sessionization agrees with batch gaps-and-islands") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.streamingSessionize(stream), "sessions", "complete")
    val streamed = spark.table("sessions")
      .as[(Long, Long, Long)].collect().toSet
    val batch = EventStreams.sessionize(Tables.events(spark, sf))
      .as[(Long, Long, Long)].collect().toSet
    // session_window closes at strictly > gap; the batch version uses the
    // same rule, so the session sets coincide on this data
    assert(streamed === batch)
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
