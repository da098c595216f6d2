package graft.sources.v2

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SnapshotTable

/** The snapshot change-feed streaming source: versions as offsets, each
  * micro-batch = one changesBetween window, baseline-then-incremental
  * semantics, exactly-once across a checkpointed restart, loud failure
  * past vacuum's retention. */
class SnapshotCdfSourceSpec extends SparkSpec {
  import spark.implicits._

  private def baseRows = Seq(
    (1L, "a", 10.0, "2024-01", 0L, false),
    (2L, "b", 20.0, "2024-01", 0L, false),
    (3L, "c", 30.0, "2024-02", 0L, false)
  ).toDF("k", "name", "price", "month", "version", "del")

  private def upd(k: Long, name: String, price: Double, month: String,
      v: Long, del: Boolean = false) =
    Seq((k, name, price, month, v, del))
      .toDF("k", "name", "price", "month", "version", "del")

  private def startFeed(dir: String, ckpt: String, sinkName: String,
      extra: Map[String, String] = Map.empty) = {
    val r = spark.readStream.format("graft-snapshot-cdf")
      .option("path", dir).option("keyCols", "k")
    extra.foreach { case (k, v) => r.option(k, v) }
    r.load().writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt).start()
  }

  private def sinkRows(name: String): Set[(Long, String, Long, Double)] =
    spark.table(name).select("change_version", "change_type", "k", "price")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

  test("baseline + incremental: the first batch is the snapshot as " +
      "inserts, later commits arrive as per-version change windows") {
    val dir = scratch("graft-cdf")
    val ckpt = scratch("graft-cdf-ck")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    val q = startFeed(dir, ckpt, "cdf_sink1")
    q.processAllAvailable()
    assert(sinkRows("cdf_sink1") == Set(
      (1L, "insert", 1L, 10.0), (1L, "insert", 2L, 20.0),
      (1L, "insert", 3L, 30.0)))
    // two commits between triggers: both versions arrive, each stamped
    SnapshotTable.upsert(spark, dir, upd(1L, "a", 11.0, "2024-01", 1L),
      "month", Seq("k"), "version", "del")                          // v2
    SnapshotTable.upsert(spark, dir, upd(3L, "c", 30.0, "2024-02", 1L,
      del = true), "month", Seq("k"), "version", "del")             // v3
    q.processAllAvailable()
    q.stop()
    assert(sinkRows("cdf_sink1") == Set(
      (1L, "insert", 1L, 10.0), (1L, "insert", 2L, 20.0),
      (1L, "insert", 3L, 30.0),
      (2L, "update", 1L, 11.0),
      (3L, "delete", 3L, 30.0)))
  }

  /** Checkpoint-recovering runner (the memory sink refuses recovery, so
    * the restart cases collect through foreachBatch). */
  private def startCollecting(dir: String, ckpt: String,
      into: java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Double)]) =
    spark.readStream.format("graft-snapshot-cdf")
      .option("path", dir).option("keyCols", "k").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.select("change_version", "change_type", "k", "price")
            .collect().foreach(r => into.add(
              (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))))
      }
      .start()

  test("restart from the checkpoint resumes at the committed version — " +
      "no replayed baseline, no duplicated window") {
    val dir = scratch("graft-cdf")
    val ckpt = scratch("graft-cdf-ck")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Double)]()
    val q1 = startCollecting(dir, ckpt, got)
    q1.processAllAvailable(); q1.stop()
    assert(got.size == 3, "baseline must deliver the 3-row snapshot")
    got.clear()
    SnapshotTable.upsert(spark, dir, upd(2L, "b", 22.0, "2024-01", 1L),
      "month", Seq("k"), "version", "del")                          // v2
    // a FRESH query on the same checkpoint: only v2's window may arrive
    val q2 = startCollecting(dir, ckpt, got)
    q2.processAllAvailable(); q2.stop()
    assert(got.toArray.toSet == Set((2L, "update", 2L, 22.0)),
      "restart must deliver exactly the unseen version window")
  }

  test("startingVersion skips the baseline: the first batch is the " +
      "changes after that version") {
    val dir = scratch("graft-cdf")
    val ckpt = scratch("graft-cdf-ck")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    SnapshotTable.upsert(spark, dir, upd(1L, "a", 12.0, "2024-01", 1L),
      "month", Seq("k"), "version", "del")                          // v2
    val q = startFeed(dir, ckpt, "cdf_sink3",
      Map("startingVersion" -> "1"))
    q.processAllAvailable(); q.stop()
    assert(sinkRows("cdf_sink3") == Set((2L, "update", 1L, 12.0)))
  }

  test("the streamed feed equals the batch changesSince over the same " +
      "window (streamed ≡ batch, the house streaming contract)") {
    val dir = scratch("graft-cdf")
    val ckpt = scratch("graft-cdf-ck")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    val q = startFeed(dir, ckpt, "cdf_sink4",
      Map("startingVersion" -> "1"))
    for (i <- 2 to 4) {
      SnapshotTable.upsert(spark, dir,
        upd(10L + i, s"x$i", i.toDouble, "2024-03", i.toLong),
        "month", Seq("k"), "version", "del")
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sinkRows("cdf_sink4")
    val batch = SnapshotTable.changesSince(spark, dir, 1L, Seq("k"))
      .select("change_version", "change_type", "k", "price")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch && streamed.size == 3)
  }

  test("onVacuumedCheckpoint=rebase: a checkpoint below retention " +
      "RE-BASELINES (full snapshot as inserts, rebased=true) instead of " +
      "failing; incremental batches carry rebased=false") {
    val dir = scratch("graft-cdf")
    val ckpt = scratch("graft-cdf-ck")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Long, Double, Boolean)]()
    def run() = spark.readStream.format("graft-snapshot-cdf")
      .option("path", dir).option("keyCols", "k")
      .option("onVacuumedCheckpoint", "rebase").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.select("change_version", "change_type", "k", "price", "rebased")
            .collect().foreach(r => got.add((r.getLong(0), r.getString(1),
              r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      }.start()
    val q1 = run()
    q1.processAllAvailable(); q1.stop()
    assert(got.size == 3 && got.toArray(Array.empty[
      (Long, String, Long, Double, Boolean)]).forall(!_._5),
      "the ordinary first baseline is NOT a rebase")
    got.clear()
    // the table advances and vacuums past the checkpointed version
    SnapshotTable.upsert(spark, dir, upd(1L, "a", 99.0, "2024-01", 1L),
      "month", Seq("k"), "version", "del")                          // v2
    SnapshotTable.compact(spark, dir, "month")                      // v3
    SnapshotTable.vacuum(dir, keepVersions = 1)
    assert(!SnapshotTable.manifestExists(dir, 1L), "fixture: v1 must be gone")
    val q2 = run()
    q2.processAllAvailable(); q2.stop()
    val rows = got.toArray(Array.empty[(Long, String, Long, Double, Boolean)])
    assert(rows.toSet == Set(
      (3L, "insert", 1L, 99.0, true), (3L, "insert", 2L, 20.0, true),
      (3L, "insert", 3L, 30.0, true)),
      s"the recovery batch must be the FULL current snapshot with " +
        s"rebased=true, got ${rows.toSet}")
    got.clear()
    // after the rebase the stream is anchored again: plain increments
    SnapshotTable.upsert(spark, dir, upd(2L, "b", 21.0, "2024-01", 2L),
      "month", Seq("k"), "version", "del")                          // v4
    val q3 = run()
    q3.processAllAvailable(); q3.stop()
    assert(got.toArray(Array.empty[(Long, String, Long, Double, Boolean)])
      .toSet == Set((4L, "update", 2L, 21.0, false)))
  }

  test("schema-evolution replay: a crash-replayed PRE-evolution window " +
      "under a POST-evolution pinned schema null-fills the new column " +
      "instead of crashing the stream") {
    val dir = scratch("graft-cdf")
    val ckpt = scratch("graft-cdf-ck")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    SnapshotTable.upsert(spark, dir, upd(1L, "a", 15.0, "2024-01", 1L),
      "month", Seq("k"), "version", "del")                          // v2 (old schema)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Long, Double, Option[String])]()
    def run() = spark.readStream.format("graft-snapshot-cdf")
      .option("path", dir).option("keyCols", "k")
      .option("startingVersion", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val cols = b.columns.toSet
          val sel = if (cols("src"))
            b.select(col("change_version"), col("change_type"), col("k"),
              col("price"), col("src"))
          else
            b.select(col("change_version"), col("change_type"), col("k"),
              col("price"), lit(null).cast("string").as("src"))
          sel.collect().foreach(r => got.add((r.getLong(0), r.getString(1),
            r.getLong(2), r.getDouble(3), Option(r.getString(4)))))
      }.start()
    val q1 = run()
    q1.processAllAvailable(); q1.stop()                 // committed (1,2]
    assert(got.size == 1)
    got.clear()
    // crash simulation: the offset log kept window (1,2] but its commit
    // record is gone — a restart must REPLAY that window
    val commits = new java.io.File(s"$ckpt/commits").listFiles
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty && commits.last.delete())
    new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc").delete()
    // the table evolves BEFORE the restart: the replayed window's
    // versions were all written under the pre-src schema
    SnapshotTable.upsert(spark, dir,
      upd(2L, "b", 25.0, "2024-01", 1L).withColumn("src", lit("s1")),
      "month", Seq("k"), "version", "del")              // v3 adds src
    val q2 = run()
    q2.processAllAvailable(); q2.stop()
    val rows = got.toArray(
      Array.empty[(Long, String, Long, Double, Option[String])]).toSet
    assert(rows == Set(
      (2L, "update", 1L, 15.0, None),         // replayed pre-src window
      (3L, "update", 2L, 25.0, Some("s1"))),  // fresh post-evolution window
      s"got $rows")
  }

  test("guardrails: missing keyCols refuses; vacuum past the checkpoint " +
      "fails the stream loudly (retention is the downtime budget)") {
    val dir = scratch("graft-cdf")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-snapshot-cdf")
        .option("path", dir).load()
    }
    // checkpointed at v1, then the table advances and vacuums past it
    val ckpt = scratch("graft-cdf-ck")
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Double)]()
    val q = startCollecting(dir, ckpt, got)
    q.processAllAvailable(); q.stop()
    SnapshotTable.compact(spark, dir, "month")                      // v2
    SnapshotTable.compact(spark, dir, "month")                      // v3
    SnapshotTable.vacuum(dir, keepVersions = 1)
    val q2 = startCollecting(dir, ckpt, got)
    val ex = intercept[Exception] { q2.processAllAvailable() }
    // either retention message is the pinned loud failure: the replayed
    // baseline hits readAt's contract, an incremental window hits
    // changesBetween's grace-period contract
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(m => m.contains("grace period") ||
        m.contains("vacuumed past the retention window")) ||
        mentions(t.getCause))
    assert(mentions(ex), s"expected the retention error, got: $ex")
    q2.stop()
  }

  test("rebase covers the inverted replay window too: start ahead of a " +
      "vacuumed end re-baselines instead of throwing fromVersion-ahead; " +
      "the loud default still throws") {
    val dir = scratch("graft-cdf-inv")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    SnapshotTable.compact(spark, dir, "month")                      // v2
    SnapshotTable.compact(spark, dir, "month")                      // v3
    SnapshotTable.vacuum(dir, keepVersions = 1) // only v3 survives
    assert(!SnapshotTable.manifestExists(dir, 2L) &&
      SnapshotTable.manifestExists(dir, 3L))
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    def stream(rebase: Boolean) = {
      val opts = Map("path" -> dir, "keyCols" -> "k") ++
        (if (rebase) Map("onVacuumedCheckpoint" -> "rebase") else Map.empty)
      new SnapshotCdfSource().createSource(spark.sqlContext,
        scratch("graft-cdf-md"), None,
        "graft-snapshot-cdf", opts)
    }
    // the inconsistent window (from=3 exists, to=2 vacuumed, from > to):
    // pre-fix this matched the incremental guard and threw changesBetween's
    // fromVersion-ahead error even in rebase mode
    val batch = stream(rebase = true)
      .getBatch(Some(LongOffset(3L)), LongOffset(2L))
    assert(batch.columns.contains("rebased"),
      "rebase mode must produce the recovery-shaped batch")
    // without the opt-in the same window stays a loud failure
    val ex = intercept[IllegalArgumentException] {
      stream(rebase = false).getBatch(Some(LongOffset(3L)), LongOffset(2L))
    }
    assert(ex.getMessage.contains("ahead of"))
  }
}
