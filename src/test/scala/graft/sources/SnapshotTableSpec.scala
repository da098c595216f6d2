package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest-pinned snapshot table: the atomic multi-partition commit —
  * crash-mid-commit leaves readers on a wholly-old snapshot, the pointer
  * swap flips them to a wholly-new one, never a mix. Plus the merge
  * semantics, carry-forward of untouched partitions by manifest entry,
  * time travel, manifest-level pruning, and replay idempotence. */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def baseRows: DataFrame = Seq(
    (1L, "a", 10.0, "2024-01", 0L, false),
    (2L, "b", 20.0, "2024-01", 0L, false),
    (3L, "c", 30.0, "2024-02", 0L, false),
    (4L, "d", 40.0, "2024-02", 0L, false),
    (5L, "e", 50.0, "2024-03", 0L, false)
  ).toDF("k", "name", "price", "month", "version", "del")

  private def updateRows: DataFrame = Seq(
    (1L, "a", 11.0, "2024-01", 1L, false),  // update in 2024-01
    (3L, "c", 30.0, "2024-02", 1L, true),   // tombstone in 2024-02
    (9L, "i", 90.0, "2024-09", 1L, false)   // insert into a NEW partition
  ).toDF("k", "name", "price", "month", "version", "del")

  private def contents(df: DataFrame): Set[(Long, String, Double, String)] =
    df.select("k", "name", "price", "month").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet

  private val mergedWant = Set(
    (1L, "a", 11.0, "2024-01"),
    (2L, "b", 20.0, "2024-01"),
    (4L, "d", 40.0, "2024-02"),
    (5L, "e", 50.0, "2024-03"),
    (9L, "i", 90.0, "2024-09"))

  test("overwrite + read round trip; upsert applies update/tombstone/insert") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    assert(v1 == 1L && SnapshotTable.currentVersion(dir) == 1L)
    assert(contents(SnapshotTable.read(spark, dir)) == contents(baseRows))
    val v2 = SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")
    assert(v2 == 2L)
    assert(contents(SnapshotTable.read(spark, dir)) == mergedWant)
  }

  test("untouched partitions are carried forward by manifest entry — same files, no rewrite") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    val before = SnapshotTable.entries(dir).toMap
    SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")
    val after = SnapshotTable.entries(dir).toMap
    // 2024-03 was not in the batch: its entry must be the IDENTICAL file
    assert(after("2024-03") == before("2024-03"))
    // touched partitions must point at NEW files
    assert(after("2024-01") != before("2024-01"))
    assert(after("2024-02") != before("2024-02"))
  }

  test("crash mid-commit: staged batch and even a prepared manifest stay invisible; " +
    "the pointer swap alone publishes") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    val oldContents = contents(SnapshotTable.read(spark, dir))

    // writer crashes AFTER staging the merged batch (files on disk)…
    // (the merge kernel replicated by hand so each phase can be cut short)
    val touched = Set("2024-01", "2024-02", "2024-09")
    val untouched = SnapshotTable.entries(dir).filterNot(e => touched(e._1))
    val merged = SnapshotTable
      .readPartitions(spark, dir, Set("2024-01", "2024-02"))
      .unionByName(updateRows)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("version").desc, col("del").desc)))
      .filter(col("__rn") === 1 && !col("del")).drop("__rn")
    val staged = SnapshotTable.stageBatch(merged, dir, "month",
      batchTag = SnapshotTable.newBatchTag(2L))
    assert(contents(SnapshotTable.read(spark, dir)) == oldContents,
      "staged-but-uncommitted files leaked into the read path")

    // …or AFTER writing the manifest but BEFORE the pointer swap
    val v = SnapshotTable.prepareManifest(dir, untouched ++ staged)
    assert(SnapshotTable.currentVersion(dir) == 1L)
    assert(contents(SnapshotTable.read(spark, dir)) == oldContents,
      "prepared-but-unswapped manifest leaked into the read path")

    // the swap is the commit point: reader now sees the WHOLE new snapshot
    SnapshotTable.swapPointer(dir, v)
    assert(SnapshotTable.currentVersion(dir) == v)
    assert(contents(SnapshotTable.read(spark, dir)) == mergedWant)
  }

  test("time travel: every committed version stays readable after later commits") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")
    assert(contents(SnapshotTable.readAt(spark, dir, v1)) == contents(baseRows))
    assert(contents(SnapshotTable.read(spark, dir)) == mergedWant)
  }

  test("manifest-level partition pruning selects files before any is opened") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    val pruned = SnapshotTable.readPartitions(spark, dir, Set("2024-02"))
    assert(contents(pruned) == Set((3L, "c", 30.0, "2024-02"), (4L, "d", 40.0, "2024-02")))
    // the pruned read's plan lists only the selected partition's file(s)
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(!scanned.contains("2024-01") || scanned.contains("2024-02"))
    val files = SnapshotTable.entries(dir).collect { case ("2024-02", f) => f }
    assert(files.nonEmpty)
  }

  test("replaying an already-applied batch is a fixed point (streaming replay contract)") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    SnapshotTable.upsert(spark, dir, updateRows, "month", Seq("k"), "version", "del")
    val once = contents(SnapshotTable.read(spark, dir))
    SnapshotTable.upsert(spark, dir, updateRows, "month", Seq("k"), "version", "del")
    assert(contents(SnapshotTable.read(spark, dir)) == once)
  }

  test("vacuum deletes only files outside the retention window; kept " +
    "versions stay readable, vacuumed ones are gone") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")                  // v1
    SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")                                  // v2
    val v3 = SnapshotTable.compact(spark, dir, "month")                     // v3
    val liveBefore = contents(SnapshotTable.read(spark, dir))
    // keep v2..v3: v1-only files (the original 2024-01/2024-02 batches)
    // must be deleted, everything v2/v3 reference must survive
    val deleted = SnapshotTable.vacuum(dir, keepVersions = 2)
    assert(deleted > 0, "expected v1-only files to be reclaimed")
    assert(contents(SnapshotTable.read(spark, dir)) == liveBefore)
    assert(contents(SnapshotTable.readAt(spark, dir, 2L)) == mergedWant)
    // v1 is outside the window: its manifest is gone
    assert(SnapshotTable.entriesAt(dir, 1L).isEmpty)
    assert(SnapshotTable.currentVersion(dir) == v3)
    // idempotent: nothing left to reclaim
    assert(SnapshotTable.vacuum(dir, keepVersions = 2) == 0)
  }

  test("diff classifies inserts/updates/deletes between versions and " +
    "never opens carry-forward partitions") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    val v2 = SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")
    val d = SnapshotTable.diff(spark, dir, v1, v2, Seq("k"))
    val got = d.select("change_type", "k", "name", "price", "month")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getString(4))).toSet
    assert(got == Set(
      ("update", 1L, "a", 11.0, "2024-01"),  // post-image
      ("delete", 3L, "c", 30.0, "2024-02"),  // pre-image
      ("insert", 9L, "i", 90.0, "2024-09")))
    // k=2 (same partition, unchanged row) and k=4/5 emit nothing — k=5's
    // partition (2024-03) was carried forward by manifest entry, so its
    // file is not even in the diff's scan
    val scannedFiles = d.queryExecution.executedPlan.toString
    val carried = SnapshotTable.entries(dir)
      .collect { case ("2024-03", f) => f.split('/').last }
    assert(carried.nonEmpty && carried.forall(f => !scannedFiles.contains(f)))
    // empty diff between identical versions
    assert(SnapshotTable.diff(spark, dir, v2, v2, Seq("k")).count() === 0)
  }

  test("changeDeltas retraction fold: incremental view refresh equals the " +
    "full recompute, including a group emptied by deletes") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    // tombstone BOTH 2024-02 rows (group must leave the view), update k=1,
    // insert k=9 into a new month
    val changes = Seq(
      (1L, "a", 11.0, "2024-01", 1L, false),
      (3L, "c", 30.0, "2024-02", 1L, true),
      (4L, "d", 40.0, "2024-02", 1L, true),
      (9L, "i", 90.0, "2024-09", 1L, false)
    ).toDF("k", "name", "price", "month", "version", "del")
    val v2 = SnapshotTable.upsert(spark, dir, changes,
      "month", Seq("k"), "version", "del")
    def view(df: org.apache.spark.sql.DataFrame) = df.groupBy("month")
      .agg(count(lit(1)).as("n"),
        sum(col("price").cast("decimal(18,4)")).cast("decimal(28,4)").as("rev"))
    val state1 = view(SnapshotTable.readAt(spark, dir, v1))
    val deltaAgg = SnapshotTable.changeDeltas(spark, dir, v1, v2, Seq("k"))
      .groupBy("month")
      .agg(sum(col("__w").cast("long")).as("n"),
        sum(col("__w") * col("price").cast("decimal(18,4)"))
          .cast("decimal(28,4)").as("rev"))
    val incr = Sinks.mergeAggState(state1, deltaAgg, Seq("month"), Seq("n", "rev"))
      .filter(col("n") > 0)
      .select(col("month"), col("n"), col("rev").cast("double").as("rev"))
    val full = view(SnapshotTable.read(spark, dir))
      .select(col("month"), col("n"), col("rev").cast("double").as("rev"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Double)].collect().toSet
    assert(rows(incr) == rows(full))
    // 2024-02 emptied: absent from BOTH (the n > 0 drop did its job)
    assert(!rows(incr).exists(_._1 == "2024-02"))
    assert(rows(incr).exists(_._1 == "2024-09"))
  }

  test("optimistic concurrency: a commit based on a stale version throws " +
    "instead of losing the interleaved writer's update") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    // writer A reads v1... writer B commits v2 in the meantime
    val v2 = SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")
    assert(v2 == v1 + 1)
    // ...writer A now tries to publish a manifest merged against v1
    val ex = intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.casCommit(dir, basedOnVersion = v1,
        SnapshotTable.entries(dir))
    }
    assert(ex.getMessage.contains("re-read and retry"))
    // the failed CAS released the lock and published nothing
    assert(SnapshotTable.currentVersion(dir) == v2)
    assert(contents(SnapshotTable.read(spark, dir)) == mergedWant)
    // the retry (re-read against the REAL current version) succeeds
    val v3 = SnapshotTable.casCommit(dir, basedOnVersion = v2,
      SnapshotTable.entries(dir))
    assert(v3 == v2 + 1 && SnapshotTable.currentVersion(dir) == v3)
    assert(contents(SnapshotTable.read(spark, dir)) == mergedWant)
  }

  test("manifest file stats: range read prunes files without opening them; " +
    "result equals the exact filter; stats carry forward on upsert") {
    val dir = scratch("graft-snap")
    val rows = (0L until 1000L)
      .map(k => (k, s"n$k", k.toDouble, "p" + (k % 4), 0L, false))
      .toDF("k", "name", "price", "part", "version", "del")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k"), rangeFiles = 4)
    val v = SnapshotTable.currentVersion(dir)
    val all = SnapshotTable.entriesAt(dir, v).map(_._2)
    val st = SnapshotTable.statsAt(dir, v)
    assert(all.nonEmpty && all.forall(st.contains), "every file needs stats")
    // the band [100, 199] hits one range slice: most files prune by stats
    def keptFor(lo: Long, hi: Long) = all.count { f =>
      val (mn, mx) = st(f)("k"); mx >= lo && mn <= hi
    }
    assert(keptFor(100L, 199L) < all.size)
    val got = SnapshotTable.readRange(spark, dir, "k", 100L, 199L)
      .filter(col("k").between(100L, 199L))
      .select("k").as[Long].collect().toSet
    assert(got == (100L until 200L).toSet)
    // all-skip band: schema-preserving empty frame
    assert(keptFor(5000L, 6000L) == 0)
    val empty = SnapshotTable.readRange(spark, dir, "k", 5000L, 6000L)
    assert(empty.count() == 0 && empty.columns.contains("name"))
    // upsert carries untouched files' stats forward with their entries
    val upd = Seq((100L, "N", 1.5, "p0", 1L, false))
      .toDF("k", "name", "price", "part", "version", "del")
    val v2 = SnapshotTable.upsert(spark, dir, upd, "part", Seq("k"),
      "version", "del")
    val st2 = SnapshotTable.statsAt(dir, v2)
    val untouchedStillStatted = SnapshotTable.entriesAt(dir, v2)
      .filter(_._1 != "p0").map(_._2)
    assert(untouchedStillStatted.nonEmpty &&
      untouchedStillStatted.forall(st2.contains))
  }

  test("schema evolution: an add-column upsert null-fills old rows; " +
    "time travel projects each version to ITS schema") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    // the batch ADDS a `source` column the table has never seen
    val evolved = Seq(
      (1L, "a", 11.0, "2024-01", 1L, false, "api"),
      (9L, "i", 90.0, "2024-09", 1L, false, "feed")
    ).toDF("k", "name", "price", "month", "version", "del", "source")
    val v2 = SnapshotTable.upsert(spark, dir, evolved,
      "month", Seq("k"), "version", "del")
    // new reader: the column exists table-wide, NULL for pre-add rows
    val live = SnapshotTable.read(spark, dir)
    assert(live.columns.contains("source"))
    val src = live.select("k", "source").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(src(1L) == Some("api") && src(9L) == Some("feed"))
    assert(src(2L).isEmpty && src(5L).isEmpty, "pre-add rows must null-fill")
    // old rows' data survived the evolution
    assert(contents(live) == Set(
      (1L, "a", 11.0, "2024-01"), (2L, "b", 20.0, "2024-01"),
      (3L, "c", 30.0, "2024-02"), (4L, "d", 40.0, "2024-02"),
      (5L, "e", 50.0, "2024-03"), (9L, "i", 90.0, "2024-09")))
    // old-version reader: v1 projects to v1's columns — no `source`
    val old = SnapshotTable.readAt(spark, dir, v1)
    assert(!old.columns.contains("source"))
    assert(contents(old) == contents(baseRows))
    // the recorded schemas drive both projections
    assert(SnapshotTable.schemaAt(dir, v1).exists(!_.fieldNames.contains("source")))
    assert(SnapshotTable.schemaAt(dir, v2).exists(_.fieldNames.contains("source")))
    // a later upsert WITHOUT the new column keeps it table-wide (add-only
    // evolution: a narrow batch never drops a column)
    val narrow = Seq((2L, "b", 21.0, "2024-01", 2L, false))
      .toDF("k", "name", "price", "month", "version", "del")
    SnapshotTable.upsert(spark, dir, narrow, "month", Seq("k"), "version", "del")
    val after = SnapshotTable.read(spark, dir)
    assert(after.columns.contains("source"))
    val src2 = after.select("k", "source").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(src2(1L) == Some("api"), "evolved row must keep its value")
    assert(src2(2L).isEmpty)
  }

  test("schema evolution flows through diff: the old side null-fills and " +
    "the added column's arrival reads as updates") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    val evolved = Seq((1L, "a", 11.0, "2024-01", 1L, false, "api"))
      .toDF("k", "name", "price", "month", "version", "del", "source")
    val v2 = SnapshotTable.upsert(spark, dir, evolved,
      "month", Seq("k"), "version", "del")
    val d = SnapshotTable.diff(spark, dir, v1, v2, Seq("k"))
    val got = d.select("change_type", "k", "source").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(got == Set(("update", 1L, Some("api"))))
  }

  test("two LIVE racing CAS writers: exactly one wins each version, the " +
    "loser's retry lands, final state equals serial application") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    // two threads each upsert a DISJOINT key into a DISJOINT partition,
    // retrying on CAS conflict exactly as the contract prescribes
    def batchFor(k: Long, month: String) =
      Seq((k, s"w$k", k.toDouble, month, 1L, false))
        .toDF("k", "name", "price", "month", "version", "del")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(6L -> "2024-06", 7L -> "2024-07").map { case (k, m) =>
      new Thread(() => {
        try results.add(SnapshotTable.upsertRetrying(spark, dir,
          batchFor(k, m), "month", Seq("k"), "version", "del",
          maxAttempts = 10))
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer failed: ${errors.peek()}")
    // exactly one winner per version: both committed, versions distinct
    val vs = results.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSet
    assert(vs == Set(2L, 3L), s"expected versions {2,3}, got $vs")
    // both writers' rows landed — the race lost no update
    val fin = contents(SnapshotTable.read(spark, dir))
    assert(fin == contents(baseRows) ++ Set(
      (6L, "w6", 6.0, "2024-06"), (7L, "w7", 7.0, "2024-07")))
    // and the racing stage paths never collided: every live entry resolves
    assert(SnapshotTable.read(spark, dir).count() == 7)
  }

  test("readAt of a vacuumed (or never-committed) version throws the " +
    "pinned error; empty-table reads degrade gracefully") {
    val dir = scratch("graft-snap")
    // never-committed table: read() is an empty frame, readAt(1) throws
    assert(SnapshotTable.read(spark, dir).count() == 0)
    val exNever = intercept[IllegalArgumentException] {
      SnapshotTable.readAt(spark, dir, 1L)
    }
    assert(exNever.getMessage.contains("never committed"))
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    SnapshotTable.upsert(spark, dir, updateRows, "month", Seq("k"), "version", "del")
    SnapshotTable.compact(spark, dir, "month")
    SnapshotTable.vacuum(dir, keepVersions = 2)
    // v1 fell out of the retention window
    val exGone = intercept[IllegalArgumentException] {
      SnapshotTable.readAt(spark, dir, 1L)
    }
    assert(exGone.getMessage.contains("vacuumed"))
    // kept versions still read
    assert(contents(SnapshotTable.readAt(spark, dir, 2L)) == mergedWant)
    // a committed EMPTY table reads as an empty frame with the schema
    val dir2 = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir2, baseRows.limit(0), "month")
    val empty = SnapshotTable.read(spark, dir2)
    assert(empty.count() == 0 && empty.columns.contains("price"))
  }

  test("vacuum leaves a staged-but-uncommitted future batch alone") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    SnapshotTable.upsert(spark, dir, updateRows, "month", Seq("k"), "version", "del")
    SnapshotTable.compact(spark, dir, "month")
    // an in-flight writer staged for v4 but has not committed yet
    val staged = SnapshotTable.stageBatch(
      Seq((42L, "x", 1.0, "2024-12", 3L, false))
        .toDF("k", "name", "price", "month", "version", "del"),
      dir, "month", SnapshotTable.newBatchTag(4L))
    SnapshotTable.vacuum(dir, keepVersions = 2)
    // its files survived the vacuum and the commit still succeeds
    val v4 = SnapshotTable.casCommit(dir, 3L,
      SnapshotTable.entries(dir) ++ staged)
    assert(SnapshotTable.read(spark, dir).filter(col("k") === 42L).count() == 1)
    assert(v4 == 4L)
  }

  test("compactClustered restores manifest stats that plain compact loses; " +
    "content unchanged, skipping improves after scattered upserts") {
    val dir = scratch("graft-snap")
    val rows = (0L until 1000L)
      .map(k => (k, s"n$k", k.toDouble, "p" + (k % 4), 0L, false))
      .toDF("k", "name", "price", "part", "version", "del")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k"), rangeFiles = 4)
    // scattered upsert: new-batch files carry NO stats
    val upd = Seq((5L, "N", 1.5, "p1", 1L, false),
      (900L, "M", 2.5, "p0", 1L, false))
      .toDF("k", "name", "price", "part", "version", "del")
    SnapshotTable.upsert(spark, dir, upd, "part", Seq("k"), "version", "del")
    val before = SnapshotTable.read(spark, dir)
      .select("k", "name").as[(Long, String)].collect().toSet
    // plain compact: content survives, stats are GONE (the documented gap)
    SnapshotTable.compact(spark, dir, "part")
    assert(SnapshotTable.statsAt(dir, SnapshotTable.currentVersion(dir)).isEmpty)
    // clustered compact: content identical AND every file statted again
    val v = SnapshotTable.compactClustered(spark, dir, "part",
      statsCols = Seq("k"), rangeFiles = 4)
    val after = SnapshotTable.read(spark, dir)
      .select("k", "name").as[(Long, String)].collect().toSet
    assert(after == before)
    val st = SnapshotTable.statsAt(dir, v)
    val files = SnapshotTable.entriesAt(dir, v).map(_._2)
    assert(files.nonEmpty && files.forall(st.contains))
    // the band read prunes again
    val kept = files.count { f =>
      val (mn, mx) = st(f)("k"); mx >= 100L && mn <= 199L
    }
    assert(kept < files.size)
    val got = SnapshotTable.readRange(spark, dir, "k", 100L, 199L)
      .filter(col("k").between(100L, 199L)).count()
    assert(got == 100L)
  }

  test("changesSince: the polling change feed replays every version step; " +
    "an up-to-date consumer gets an empty frame; below the retention " +
    "window it fails loudly") {
    val dir = scratch("graft-snap")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")                          // v2
    val more = Seq((9L, "i", 95.0, "2024-09", 2L, false),           // update
      (2L, "b", 20.0, "2024-01", 2L, true))                         // delete
      .toDF("k", "name", "price", "month", "version", "del")
    SnapshotTable.upsert(spark, dir, more, "month", Seq("k"), "version", "del") // v3
    val feed = SnapshotTable.changesSince(spark, dir, v1, Seq("k"))
    val got = feed.select("change_version", "change_type", "k")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (2L, "update", 1L), (2L, "delete", 3L), (2L, "insert", 9L),
      (3L, "update", 9L), (3L, "delete", 2L)))
    // folding the feed over the v1 state reaches the live state: apply
    // each key's LAST change (insert/update images, deletes drop)
    val lastChange = feed
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("change_version").desc)))
      .filter(col("__rn") === 1)
    val replayed = SnapshotTable.readAt(spark, dir, v1)
      .join(lastChange.select("k"), Seq("k"), "left_anti")
      .select("k", "name", "price", "month")
      .unionByName(lastChange.filter(col("change_type") =!= "delete")
        .select("k", "name", "price", "month"))
    assert(contents(replayed) == contents(SnapshotTable.read(spark, dir)))
    val live = contents(SnapshotTable.read(spark, dir))
    assert(live == Set((1L, "a", 11.0, "2024-01"), (4L, "d", 40.0, "2024-02"),
      (5L, "e", 50.0, "2024-03"), (9L, "i", 95.0, "2024-09")))
    // up-to-date consumer: empty frame, schema intact
    val upToDate = SnapshotTable.changesSince(spark, dir, 3L, Seq("k"))
    assert(upToDate.count() == 0 && upToDate.columns.contains("change_version"))
    // vacuumed-away start version: loud failure
    SnapshotTable.compact(spark, dir, "month")                      // v4
    SnapshotTable.compact(spark, dir, "month")                      // v5
    SnapshotTable.vacuum(dir, keepVersions = 2)
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.changesSince(spark, dir, 1L, Seq("k"))
    }
    assert(ex.getMessage.contains("grace period"))
  }

  test("compact folds live files into one batch, content unchanged") {
    val dir = scratch("graft-snap")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    SnapshotTable.upsert(spark, dir, updateRows, "month", Seq("k"), "version", "del")
    val before = contents(SnapshotTable.read(spark, dir))
    val v = SnapshotTable.compact(spark, dir, "month")
    val ents = SnapshotTable.entriesAt(dir, v)
    assert(ents.forall(_._2.startsWith(s"batch-$v-")))
    assert(contents(SnapshotTable.read(spark, dir)) == before)
  }

  // ------------------------------------------------- row-level DML (CoW)

  /** 100 keys clustered on k across two month partitions, stats in the
    * manifest — the layout the stats-pruned DML scoping needs. */
  private def dmlFixture(): String = {
    val dir = scratch("graft-snap-dml")
    val rows = (1L to 100L).map(k =>
      (k, s"n$k", k * 1.0, if (k % 2 == 0) "2024-01" else "2024-02"))
      .toDF("k", "name", "price", "month")
    SnapshotTable.overwriteClustered(spark, dir, rows, "month",
      statsCols = Seq("k"), rangeFiles = 10)
    dir
  }

  test("overwriteZordered: manifest stats prune files on EITHER " +
      "interleaved column (linear clustering only prunes the leading " +
      "one); conjunction prunes hardest; content identical") {
    val dir = scratch("graft-snap-z")
    // a 64×64 grid: k1 = row, k2 = column — range predicates on either
    // axis are narrow stripes of the plane
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i / 64).toLong, (i % 64).toLong, "all"))
      .toDF("id", "k1", "k2", "p")
    SnapshotTable.overwriteZordered(spark, dir, rows, "p",
      statsCols = Seq("k1", "k2"), rangeFiles = 16)
    val st = SnapshotTable.statsAt(dir, 1L)
    val all = SnapshotTable.entries(dir).map(_._2)
    assert(all.size >= 8 && all.forall(st.contains))
    def keptFor(ranges: Seq[(String, Long, Long)]): Int =
      all.count(f => ranges.forall { case (c, lo, hi) =>
        val (mn, mx) = st(f)(c); mx >= lo && mn <= hi
      })
    val k1Only = keptFor(Seq(("k1", 0L, 7L)))
    val k2Only = keptFor(Seq(("k2", 0L, 7L)))
    val both = keptFor(Seq(("k1", 0L, 7L), ("k2", 0L, 7L)))
    assert(k1Only < all.size, s"no pruning on k1 ($k1Only/${all.size})")
    assert(k2Only < all.size, s"no pruning on k2 ($k2Only/${all.size})")
    assert(both <= math.min(k1Only, k2Only))
    // correctness: the pruned read + exact filter equals the plain filter
    val got = SnapshotTable.readRanges(spark, dir,
      Seq(("k1", 0L, 7L), ("k2", 0L, 7L)))
      .filter(col("k1").between(0, 7) && col("k2").between(0, 7))
      .select("id").as[Long].collect().toSet
    val want = rows.filter(col("k1").between(0, 7) && col("k2").between(0, 7))
      .select("id").as[Long].collect().toSet
    assert(got == want)
  }

  test("deleteWhere removes TRUE rows only (SQL semantics: NULL/FALSE " +
      "kept), time travel still sees them, diff reports them as deletes") {
    val dir = scratch("graft-snap")
    val rows = Seq(
      (1L, Some(5L), "2024-01"), (2L, None, "2024-01"),
      (3L, Some(50L), "2024-02"), (4L, Some(7L), "2024-02"))
      .toDF("k", "score", "month")
    SnapshotTable.overwrite(spark, dir, rows, "month")
    val v2 = SnapshotTable.deleteWhere(spark, dir, col("score") > 10, "month")
    assert(v2 == 2L)
    // k=3 (TRUE) gone; k=2 (NULL predicate) and the FALSE rows kept
    assert(SnapshotTable.read(spark, dir).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 4L))
    assert(SnapshotTable.readAt(spark, dir, 1L).count() == 4)
    val d = SnapshotTable.diff(spark, dir, 1L, 2L, Seq("k"))
    assert(d.filter(col("change_type") === "delete").select("k").as[Long]
      .collect().toSet == Set(3L))
    assert(d.count() == 1) // rewritten survivors are NOT spurious changes
  }

  test("deleteWhere with pruneRange rewrites only stat-overlapping files; " +
      "the rest carry forward by identical path with their stats") {
    val dir = dmlFixture()
    val before = SnapshotTable.entriesAt(dir, 1L).map(_._2).toSet
    val v2 = SnapshotTable.deleteWhere(spark, dir,
      col("k").between(10L, 20L), "month",
      pruneRange = Some(("k", 10L, 20L)))
    assert(v2 == 2L)
    val after = SnapshotTable.entriesAt(dir, 2L).map(_._2).toSet
    val carried = before.intersect(after)
    assert(carried.nonEmpty, "stats pruning must carry some files forward")
    assert(before.diff(after).nonEmpty, "the overlapping files must restage")
    // carried files keep their manifest stats; restaged files get FRESH
    // stats (clustered rewrite), so range skipping still works end-to-end
    val st2 = SnapshotTable.statsAt(dir, 2L)
    assert(carried.forall(st2.contains))
    assert(after.diff(before).forall(st2.contains))
    assert(SnapshotTable.readRange(spark, dir, "k", 10L, 20L).count() == 0)
    assert(SnapshotTable.read(spark, dir).count() == 89)
  }

  test("deleteWhere whose pruneRange misses every file is a no-op: no " +
      "new version, table bit-unchanged") {
    val dir = dmlFixture()
    val v = SnapshotTable.deleteWhere(spark, dir,
      col("k").between(5000L, 6000L), "month",
      pruneRange = Some(("k", 5000L, 6000L)))
    assert(v == 1L && SnapshotTable.currentVersion(dir) == 1L)
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }

  test("updateWhere: every assignment reads the OLD row, non-matching " +
      "rows pass through unchanged, unknown column fails loudly") {
    val dir = dmlFixture()
    // name is rewritten FROM price while price changes in the same update:
    // if assignments chained, name would see the new price (wrong)
    SnapshotTable.updateWhere(spark, dir, col("k") <= 3,
      assignments = Seq(
        "price" -> (col("price") + 100),
        "name" -> concat(lit("was-"), col("price").cast("long"))),
      partCol = "month")
    val got = SnapshotTable.read(spark, dir)
      .filter(col("k") <= 4).orderBy("k")
      .select("k", "name", "price").as[(Long, String, Double)].collect()
    assert(got.toSeq == Seq(
      (1L, "was-1", 101.0), (2L, "was-2", 102.0),
      (3L, "was-3", 103.0), (4L, "n4", 4.0)))
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, dir, col("k") === 1,
        Seq("nope" -> lit(1)), "month")
    }
  }

  test("GDPR two-step: deleteWhere is logical (time travel still serves " +
      "the rows) until vacuum past the pre-delete version — then the only " +
      "bytes on disk are the live manifest's files") {
    val dir = dmlFixture()
    SnapshotTable.deleteWhere(spark, dir, col("k").between(10L, 20L),
      "month", pruneRange = Some(("k", 10L, 20L)))
    assert(SnapshotTable.readAt(spark, dir, 1L).count() == 100) // logical only
    val removed = SnapshotTable.vacuum(dir, keepVersions = 1)
    assert(removed > 0, "vacuum must physically drop the pre-delete files")
    intercept[IllegalArgumentException] {
      SnapshotTable.readAt(spark, dir, 1L)
    }
    // physical erasure: every parquet file still on disk is referenced by
    // the live manifest — no orphan holds the deleted rows' bytes
    val live = SnapshotTable.entries(dir).map(_._2).toSet
    val dataRoot = new java.io.File(s"$dir/data")
    val onDisk = (for {
      b <- dataRoot.listFiles().toSeq if b.isDirectory
      p <- b.listFiles().toSeq if p.isDirectory
      f <- p.listFiles().toSeq if f.getName.endsWith(".parquet")
    } yield s"${b.getName}/${p.getName}/${f.getName}").toSet
    assert(onDisk == live, s"orphan files survive vacuum: ${onDisk.diff(live)}")
    assert(SnapshotTable.read(spark, dir).count() == 89)
  }

  test("updateWhere may move rows across partitions (assignment on the " +
      "partition column restages them into the new partition)") {
    val dir = dmlFixture()
    SnapshotTable.updateWhere(spark, dir, col("k") === 7,
      Seq("month" -> lit("2024-09")), "month")
    val moved = SnapshotTable.readPartitions(spark, dir, Set("2024-09"))
    assert(moved.select("k").as[Long].collect().toSeq == Seq(7L))
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }

  // ------------------------------------------- Hadoop FileSystem contract

  test("the whole table lifecycle runs against an explicit file: URI — " +
      "the control plane is Hadoop FileSystem, not java.nio (a nio " +
      "Paths.get over a URI string would mangle every path)") {
    val dir = "file:" + scratch("graft-snap-uri")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    assert(v1 == 1L && SnapshotTable.currentVersion(dir) == 1L)
    assert(contents(SnapshotTable.read(spark, dir)) == contents(baseRows))
    val v2 = SnapshotTable.upsert(spark, dir, updateRows,
      "month", Seq("k"), "version", "del")
    assert(contents(SnapshotTable.read(spark, dir)) == mergedWant)
    assert(contents(SnapshotTable.readAt(spark, dir, v1)) == contents(baseRows))
    // DML, diff, change feed, compaction and vacuum all through the URI
    SnapshotTable.deleteWhere(spark, dir, col("k") === 2L, "month")
    assert(SnapshotTable.read(spark, dir).filter(col("k") === 2L).count() == 0)
    val d = SnapshotTable.diff(spark, dir, v1, v2, Seq("k"))
    assert(d.filter(col("change_type") === "insert").count() == 1)
    assert(SnapshotTable.changesSince(spark, dir, v2, Seq("k"))
      .filter(col("change_type") === "delete").count() == 1)
    SnapshotTable.compact(spark, dir, "month")
    assert(SnapshotTable.vacuum(dir, keepVersions = 1) > 0)
    assert(SnapshotTable.read(spark, dir).count() == 4)
  }

  test("source discipline: SnapshotTable's control plane has no java.nio/" +
      "java.io.File path operations — every metadata touch is Hadoop " +
      "FileSystem (the 100 TB requirement: hdfs:/s3a: table roots)") {
    val src = new String(Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/sources/SnapshotTable.scala")))
    // java.nio.file.FileAlreadyExistsException in a catch is fine (some
    // Hadoop local-fs builds throw the nio type); path manipulation is not
    val banned = Seq("java.nio.file.Files", "java.nio.file.Paths",
      "Paths.get", "java.io.File(", "new File(", "import java.io.File",
      "StandardCopyOption", ".toPath", "listFiles(")
    val hits = banned.filter(src.contains)
    assert(hits.isEmpty, s"java.nio/java.io leaked back in: $hits")
    assert(src.contains("org.apache.hadoop.fs.{FileContext, FileSystem"),
      "the Hadoop FileSystem import must carry the control plane")
  }

  test("stageBatch splits a hot partition across multiple files " +
      "(rows/targetRowsPerFile sizing) and reads back byte-identical; " +
      "small partitions still stage one file each") {
    val dir = scratch("graft-snap-skew")
    // planted skew: 'hot' has 900 of 1000 rows, 'cold' has 100
    val rows = (0L until 1000L).map(k =>
      (k, s"n$k", if (k < 900) "hot" else "cold"))
      .toDF("k", "name", "part")
    val staged = SnapshotTable.stageBatch(rows, dir, "part",
      SnapshotTable.newBatchTag(1L), targetRowsPerFile = 200L)
    val byPart = staged.groupBy(_._1).map { case (p, fs) => p -> fs.size }
    assert(byPart("hot") > 1,
      s"hot partition must split across tasks, got ${byPart("hot")} file(s)")
    assert(byPart("cold") == 1,
      s"cold partition must stay one file, got ${byPart("cold")}")
    // no unbounded file: the row cap holds for every hot file
    def hotFiles(st: Seq[(String, String)]) =
      st.collect { case ("hot", f) => s"$dir/data/$f" }
    hotFiles(staged).foreach { f =>
      val n = spark.read.parquet(f).count()
      assert(n <= 200L, s"$f holds $n rows, above targetRowsPerFile 200")
    }
    SnapshotTable.casCommit(dir, 0L, staged, schema = Some(rows.schema))
    val got = SnapshotTable.read(spark, dir)
      .select("k", "name", "part").as[(Long, String, String)].collect().toSet
    val want = rows.as[(Long, String, String)].collect().toSet
    assert(got == want, "skew-split staging must read back byte-identical")
    // no single-task funnel: with a small advisory size AQE's rebalance
    // skew split spreads the hot partition over several write tasks
    // (a file name's part-NNNNN is its writer task's partition id), with
    // no row cap left to split it
    val split = withSQLConf(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      SnapshotTable.stageBatch(rows, dir, "part",
        SnapshotTable.newBatchTag(2L), targetRowsPerFile = 1L << 40)
    }
    val tasks = hotFiles(split)
      .map(f => f.split('/').last.split('-')(1)).distinct
    assert(tasks.size > 1,
      s"hot partition must stage from several write tasks, got $tasks")
  }

  test("reads build their frames through the manifest index: no Spark " +
      "job (no listing of > 32 files), every scan via SnapshotFileIndex") {
    val dir = scratch("graft-snap-nolist")
    val rows = spark.range(0L, 4000L).select(col("id").as("k"),
      concat(lit("n"), col("id").cast("string")).as("name"),
      lit("all").as("part"))
    val v1 = SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      Seq("k"), rangeFiles = 40)
    val v2 = SnapshotTable.overwriteClustered(spark, dir,
      rows.withColumn("name", concat(col("name"), lit("'"))), "part",
      Seq("k"), rangeFiles = 40)
    assert(Seq(v1, v2).forall(v => SnapshotTable.entriesAt(dir, v).size > 32))
    // jobs started while `body` runs, by job group; listener events arrive
    // in order, so once a later barrier job shows every earlier one has
    def jobsIn[A](body: => A): (A, Int) = {
      val sc = spark.sparkContext
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          groups.add(String.valueOf(Option(e.properties)
            .map(_.getProperty("spark.jobGroup.id")).orNull))
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("counted", "snapshot read construction")
        val out = try body finally sc.clearJobGroup()
        sc.setJobGroup("barrier", "listener barrier")
        try spark.range(1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!groups.contains("barrier") && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(groups.contains("barrier"), "listener never saw the barrier")
        (out, groups.toArray.count(_ == "counted"))
      } finally sc.removeSparkListener(listener)
    }
    val (frames, jobs) = jobsIn(Seq(
      "readAt" -> SnapshotTable.readAt(spark, dir, v1),
      "readRange" -> SnapshotTable.readRange(spark, dir, "k", 0L, 3999L),
      "changesBetween" ->
        SnapshotTable.changesBetween(spark, dir, v1, v2, Seq("k"))))
    assert(jobs == 0, s"building the read frames launched $jobs Spark job(s)")
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SnapshotFileIndex") &&
        !plan.contains("InMemoryFileIndex"),
        s"$name must scan through the manifest index:\n${plan.take(800)}")
    }
    assert(frames.map(_._2.count()) == Seq(4000L, 4000L, 4000L))
  }

  test("stageBatch with NULL partition values: null-part rows stage into " +
      "the hive default directory and never break the slice map") {
    val dir = scratch("graft-snap-nullp")
    val rows = (0L until 600L).map(k =>
      (k, s"n$k", if (k % 3 == 0) null else "p" + (k % 2)))
      .toDF("k", "name", "part")
    // a hot partition splits by the row cap; null keys stage as their
    // own partition all the same
    val staged = SnapshotTable.stageBatch(rows, dir, "part",
      SnapshotTable.newBatchTag(1L), targetRowsPerFile = 100L)
    assert(staged.exists(_._1 == "__HIVE_DEFAULT_PARTITION__"),
      "null-part rows must stage under the hive default directory")
    SnapshotTable.casCommit(dir, 0L, staged, schema = Some(rows.schema))
    assert(SnapshotTable.read(spark, dir).count() == 600)
  }

  test("changesSinceOrRebase: within the window it IS changesSince; past " +
      "vacuum's grace it re-baselines with the full snapshot as inserts " +
      "and flags the consumer to replace its state") {
    val dir = scratch("graft-snap-rebase")
    val v1 = SnapshotTable.overwrite(spark, dir, baseRows, "month")
    SnapshotTable.upsert(spark, dir, updateRows, "month", Seq("k"),
      "version", "del")                                              // v2
    val (feed1, ckpt1, rebased1) =
      SnapshotTable.changesSinceOrRebase(spark, dir, v1, Seq("k"))
    assert(!rebased1 && ckpt1 == 2L)
    assert(feed1.select("change_type", "k").as[(String, Long)].collect().toSet
      == Set(("update", 1L), ("delete", 3L), ("insert", 9L)))
    // consumer sleeps; table advances and vacuums past its checkpoint
    SnapshotTable.compact(spark, dir, "month")                       // v3
    SnapshotTable.compact(spark, dir, "month")                       // v4
    SnapshotTable.vacuum(dir, keepVersions = 1)
    intercept[IllegalArgumentException] {
      SnapshotTable.changesSince(spark, dir, 2L, Seq("k"))
    }
    val (feed2, ckpt2, rebased2) =
      SnapshotTable.changesSinceOrRebase(spark, dir, 2L, Seq("k"))
    assert(rebased2 && ckpt2 == 4L)
    assert(feed2.select("change_type").distinct()
      .as[String].collect().toSeq == Seq("insert"))
    // replacing state with the baseline reaches the live table exactly
    assert(contents(feed2.select("k", "name", "price", "month"))
      == contents(SnapshotTable.read(spark, dir)))
    // a never-synced consumer (fromVersion 0) re-baselines the same way
    val (_, ckpt0, rebased0) =
      SnapshotTable.changesSinceOrRebase(spark, dir, 0L, Seq("k"))
    assert(rebased0 && ckpt0 == 4L)
  }

  test("DML against a Z-ordered table restages with the FULL stat-column " +
      "set: the second dimension keeps its min/max on rewritten files, so " +
      "two-sided skipping survives row-level deletes") {
    val dir = scratch("graft-snap-zdml")
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i / 64).toLong, (i % 64).toLong, "all"))
      .toDF("id", "k1", "k2", "p")
    SnapshotTable.overwriteZordered(spark, dir, rows, "p",
      statsCols = Seq("k1", "k2"), rangeFiles = 16)
    val v2 = SnapshotTable.deleteWhere(spark, dir,
      col("k1").between(0L, 3L) && col("k2") % 2 === 0, "p",
      pruneRange = Some(("k1", 0L, 3L)))
    val st = SnapshotTable.statsAt(dir, v2)
    val before = SnapshotTable.entriesAt(dir, 1L).map(_._2).toSet
    val restaged = SnapshotTable.entriesAt(dir, v2).map(_._2)
      .filterNot(before)
    assert(restaged.nonEmpty, "the delete must rewrite overlapping files")
    assert(restaged.forall(f => st.get(f).exists(m =>
      m.contains("k1") && m.contains("k2"))),
      "rewritten files must carry min/max for BOTH stat columns")
    // and k2-side pruning still works against the post-DML manifest
    val all2 = SnapshotTable.entriesAt(dir, v2).map(_._2)
    val keptK2 = all2.count(f => st.get(f).flatMap(_.get("k2"))
      .forall { case (mn, mx) => mx >= 0L && mn <= 7L })
    assert(keptK2 < all2.size, "k2 pruning must survive the rewrite")
  }

  test("updateWhere naming an unknown column fails loudly even when " +
      "pruning leaves zero candidate files (no silent no-op)") {
    val dir = dmlFixture()
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, dir, col("k") === 1,
        Seq("nope" -> lit(1)), "month",
        pruneRange = Some(("k", 5000L, 6000L))) // prunes every file
    }
    assert(SnapshotTable.currentVersion(dir) == 1L, "no version committed")
  }

  test("restore commits a FORWARD version equal to the old snapshot: " +
      "bad commits stay in history, zero data movement, diff sees the " +
      "restoration as ordinary change rows") {
    val dir = scratch("graft-snap-restore")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    SnapshotTable.deleteWhere(spark, dir, col("k") <= 2, "month")   // v2 (bad)
    assert(SnapshotTable.read(spark, dir).count() == 3)
    val v3 = SnapshotTable.restore(spark, dir, 1L)
    assert(v3 == 3L && SnapshotTable.currentVersion(dir) == 3L)
    assert(contents(SnapshotTable.read(spark, dir)) == contents(baseRows))
    // zero data movement: v3's entries ARE v1's
    assert(SnapshotTable.entriesAt(dir, 3L).toSet ==
      SnapshotTable.entriesAt(dir, 1L).toSet)
    // the bad version remains auditable
    assert(SnapshotTable.readAt(spark, dir, 2L).count() == 3)
    // downstream feeds see re-inserts, not a rollback special case
    val d = SnapshotTable.diff(spark, dir, 2L, 3L, Seq("k"))
    assert(d.filter(col("change_type") === "insert").select("k")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(SnapshotTable.opAt(dir, 3L) == Some("restore"))
    // vacuum after restore keeps the restored files (they're referenced
    // by the live manifest) even once v1 falls out of retention
    SnapshotTable.vacuum(dir, keepVersions = 1)
    assert(contents(SnapshotTable.read(spark, dir)) == contents(baseRows))
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, dir, 1L) // vacuumed away
    }
  }

  test("compactSmall folds ONLY partitions with several sub-threshold " +
      "files, carries well-sized files by entry, and restores stats on " +
      "the folded output") {
    val dir = scratch("graft-snap-opt")
    val rows = (0L until 400L).map(k =>
      (k, s"n$k", k.toDouble, "p" + (k % 2), 0L, false))
      .toDF("k", "name", "price", "part", "version", "del")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k"), rangeFiles = 4)
    // five trickle upserts: p0 accumulates small files
    for (i <- 1 to 5) {
      SnapshotTable.upsert(spark, dir,
        Seq((1000L + i, s"t$i", i.toDouble, "p0", i.toLong, false))
          .toDF("k", "name", "price", "part", "version", "del"),
        "part", Seq("k"), "version", "del")
    }
    val before = SnapshotTable.entries(dir)
    val beforeContent = SnapshotTable.read(spark, dir)
      .select("k", "name").as[(Long, String)].collect().toSet
    val v = SnapshotTable.compactSmall(spark, dir, "part",
      minBytes = 1L << 20) // everything at this scale is "small"
    assert(v > 0 && SnapshotTable.opAt(dir, v) == Some("optimize"))
    val after = SnapshotTable.entriesAt(dir, v)
    assert(after.size < before.size,
      s"optimize must shrink the file count (${before.size} -> ${after.size})")
    val afterContent = SnapshotTable.read(spark, dir)
      .select("k", "name").as[(Long, String)].collect().toSet
    assert(afterContent == beforeContent)
    // the fold lands ~one file per touched partition — the (partition,
    // key) range split must not multiply slices against partitions when
    // the clustering key is uncorrelated with the partition (k alternates
    // between p0/p1 here)
    val foldedOut = after.map(_._2).filterNot(before.map(_._2).toSet)
    val partsTouched = after.map(_._1).distinct.size
    assert(foldedOut.size <= partsTouched + 1,
      s"fold must emit ~1 file/partition, got ${foldedOut.size}")
    // folded files carry fresh stats (k was a recorded stat column)
    val st = SnapshotTable.statsAt(dir, v)
    val newFiles = after.map(_._2).filterNot(before.map(_._2).toSet)
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      st.get(f).exists(_.contains("k"))))
    // a table whose files all exceed the threshold is untouched
    val v2 = SnapshotTable.compactSmall(spark, dir, "part", minBytes = 1L)
    assert(v2 == v, "no sub-threshold pair: no spurious commit")
  }

  test("history surfaces the retained commit trail newest-first with " +
      "recorded operations; vacuumed versions drop out") {
    val dir = scratch("graft-snap-hist")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    SnapshotTable.upsert(spark, dir, updateRows, "month", Seq("k"),
      "version", "del")                                             // v2
    SnapshotTable.deleteWhere(spark, dir, col("k") === 9L, "month") // v3
    SnapshotTable.compact(spark, dir, "month")                      // v4
    val h = SnapshotTable.history(spark, dir)
      .select("version", "operation").as[(Long, String)].collect().toSeq
    assert(h == Seq((4L, "compact"), (3L, "delete"), (2L, "upsert"),
      (1L, "overwrite")))
    SnapshotTable.vacuum(dir, keepVersions = 2)
    val h2 = SnapshotTable.history(spark, dir)
      .select("version").as[Long].collect().toSeq
    assert(h2 == Seq(4L, 3L))
  }

  test("a reader looping against LIVE commits always sees a consistent " +
      "whole snapshot — never a mix, never a transient metadata failure " +
      "(the checksum-sidecar race is retried away)") {
    val dir = scratch("graft-snap-race")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    // valid counts: each commit i inserts one NEW key, so a consistent
    // snapshot at any moment counts 5 + i for some 0 <= i <= 12
    val valid = (0 to 12).map(i => 5L + i).toSet
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var writing = true
    val reader = new Thread(() => {
      try {
        while (writing) {
          val n = SnapshotTable.read(spark, dir).count()
          if (!valid(n)) bad.add(n)
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    reader.start()
    for (i <- 1 to 12) {
      SnapshotTable.upsert(spark, dir,
        Seq((100L + i, s"w$i", i.toDouble, "2024-0" + (i % 9 + 1), 1L, false))
          .toDF("k", "name", "price", "month", "version", "del"),
        "month", Seq("k"), "version", "del")
    }
    writing = false
    reader.join(120000)
    assert(errors.isEmpty, s"reader failed mid-commit: ${errors.peek()}")
    assert(bad.isEmpty, s"reader saw a torn snapshot: counts ${bad.peek()}")
    assert(SnapshotTable.read(spark, dir).count() == 17)
  }

  test("manifests record the partition column as table metadata " +
      "(#partcol header) and carry it across commits") {
    val dir = scratch("graft-snap-pc")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    assert(SnapshotTable.partColAt(dir, 1L) == Some("month"))
    val v2 = SnapshotTable.upsert(spark, dir, updateRows, "month",
      Seq("k"), "version", "del")
    assert(SnapshotTable.partColAt(dir, v2) == Some("month"))
    // a bare casCommit without partCol inherits the table's recorded one
    val v3 = SnapshotTable.casCommit(dir, v2, SnapshotTable.entries(dir))
    assert(SnapshotTable.partColAt(dir, v3) == Some("month"))
  }

  test("changesBetween folds wide version windows in bounded union groups " +
      "— a consumer far behind gets the same feed without an " +
      "O(versions)-wide plan") {
    val dir = scratch("graft-snap-wide")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")          // v1
    for (i <- 1 to 6)
      SnapshotTable.upsert(spark, dir,
        upd6(100L + i, s"w$i", i.toDouble, "2024-0" + i, i.toLong),
        "month", Seq("k"), "version", "del")                        // v2..v7
    def feed(width: Int) = SnapshotTable
      .changesBetween(spark, dir, 1L, 7L, Seq("k"), maxUnionWidth = width)
      .select("change_version", "change_type", "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // equality across fold widths, including width 1 (every group cut)
    val wide = feed(64)
    assert(feed(2) == wide && feed(1) == wide && wide.size == 6)
  }

  private def upd6(k: Long, name: String, price: Double, month: String,
      v: Long): DataFrame =
    Seq((k, name, price, month, v, false))
      .toDF("k", "name", "price", "month", "version", "del")

  test("manifests record bytes:rows per file (fileMetaAt): lengths match " +
      "the filesystem, clustered staging counts rows, carried entries " +
      "keep their meta across commits") {
    val dir = scratch("graft-snap-meta")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")
    val meta1 = SnapshotTable.fileMetaAt(dir, 1L)
    val entries1 = SnapshotTable.entries(dir)
    assert(meta1.keySet == entries1.map(_._2).toSet,
      "every manifest line must carry its file's length")
    meta1.foreach { case (f, (bytes, rows)) =>
      assert(bytes == new java.io.File(s"$dir/data/$f").length,
        s"recorded length of $f must be the real one")
      assert(rows == -1L, "plain staging does not count rows")
    }
    // clustered staging rides a stats scan — rows are free there
    val dir2 = scratch("graft-snap-meta2")
    SnapshotTable.overwriteClustered(spark, dir2,
      baseRows.withColumn("k2", col("k")), "month",
      statsCols = Seq("k2"), rangeFiles = 2)
    val meta2 = SnapshotTable.fileMetaAt(dir2, 1L)
    assert(meta2.valuesIterator.map(_._2).sum == baseRows.count(),
      "clustered staging must record exact per-file row counts")
    // an upsert carries untouched files' meta forward by manifest line
    val v2 = SnapshotTable.upsert(spark, dir, updateRows, "month",
      Seq("k"), "version", "del")
    val meta2b = SnapshotTable.fileMetaAt(dir, v2)
    val untouched = SnapshotTable.entriesAt(dir, v2).map(_._2)
      .filter(meta1.contains)
    assert(untouched.nonEmpty &&
      untouched.forall(f => meta2b(f) == meta1(f)))
  }

  test("STRING manifest stats: readRangeStr prunes files lexicographically " +
      "(UTF-8 byte order) and row-level DML preserves typed stats on " +
      "restaged files") {
    val dir = scratch("graft-snap-str")
    // month correlates with k (50 keys per month) so the k-range
    // clustering also bands months — the layout string stats can skip on
    val rows = (0L until 600L).map(k =>
      (k, f"2024-${k / 50 + 1}%02d", "p" + (k % 2)))
      .toSeq.toDF("k", "month", "part")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k", "month"), rangeFiles = 12)
    val st1 = SnapshotTable.typedStatsAt(dir, 1L)
    assert(st1.valuesIterator.exists(_.get("month").exists(
      _.isInstanceOf[SnapshotTable.StrStat])), "month must carry StrStat")
    assert(st1.valuesIterator.exists(_.get("k").exists(
      _.isInstanceOf[SnapshotTable.LongStat])), "k must carry LongStat")
    // the long view hides the string stat but keeps the long one
    assert(SnapshotTable.statsAt(dir, 1L)
      .valuesIterator.forall(m => m.contains("k") && !m.contains("month")))
    // string-range read: prunes to fewer files, rows exact
    val all = SnapshotTable.entries(dir).map(_._2)
    val kept = all.count { f =>
      st1.get(f).flatMap(_.get("month")) match {
        case Some(cs) => SnapshotTable.ColStat.overlapsStr(
          cs, Some("2024-10"), None)
        case None => true
      }
    }
    assert(kept < all.size, s"month >= 2024-10 must skip files ($kept/${all.size})")
    val got = SnapshotTable.readRangeStr(spark, dir, "month",
      Some("2024-10"), None)
      .filter(col("month") >= "2024-10").count()
    val want = rows.filter(col("month") >= "2024-10").count()
    assert(got == want)
    // DELETE restages candidates with the FULL stat-column set — the
    // string stat must survive on rewritten files (maintenance never
    // degrades skipping)
    // the band only PARTIALLY covers its candidate files (file bands are
    // 50 keys wide), so survivors restage — a full-file band would just
    // drop entries with nothing left to restage
    val vDel = SnapshotTable.deleteWhere(spark, dir,
      col("k").between(120L, 179L), "part",
      pruneRange = Some(("k", 120L, 179L)))
    val st2 = SnapshotTable.typedStatsAt(dir, vDel)
    val newFiles = SnapshotTable.entriesAt(dir, vDel).map(_._2)
      .filterNot(all.toSet)
    assert(newFiles.nonEmpty, "the delete must have restaged files")
    assert(newFiles.forall(f => st2.get(f).exists(m =>
      m.get("month").exists(_.isInstanceOf[SnapshotTable.StrStat]) &&
        m.get("k").exists(_.isInstanceOf[SnapshotTable.LongStat]))),
      "restaged files must carry BOTH typed stats")
    // non-BMP ordering: the bounds comparator is UTF-8 bytes, not UTF-16
    // code units — '￿' (3 UTF-8 bytes) sorts BELOW U+10000 (4 bytes),
    // while Java String.compareTo says the opposite
    val hi = new String(Character.toChars(0x10000))
    assert(SnapshotTable.ColStat.utf8Cmp("￿", hi) < 0 &&
      "￿".compareTo(hi) > 0,
      "utf8Cmp must follow Spark's binary collation above the BMP")
  }

  test("DOUBLE manifest stats: readRangeDbl prunes files from bounds " +
      "alone, NaN rows never poison the bounds, and row-level DML " +
      "preserves the double stat on restaged files") {
    val dir = scratch("graft-snap-dbl")
    // score tracks k (the clustering key) so range slices band scores;
    // every 97th row is NaN — the stats scan must mask it out of min/max
    val rows = (0L until 600L).map { k =>
      val score = if (k % 97L == 0L) Double.NaN else k.toDouble / 2.0
      (k, score, "p" + (k % 2))
    }.toSeq.toDF("k", "score", "part")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k", "score"), rangeFiles = 12)
    val st1 = SnapshotTable.typedStatsAt(dir, 1L)
    val dblBounds = st1.valuesIterator.flatMap(_.get("score")).collect {
      case SnapshotTable.DblStat(lo, hi) => (lo, hi)
    }.toSeq
    assert(dblBounds.nonEmpty, "score must carry DblStat")
    // Spark orders NaN ABOVE every double and `NaN >= x` filters TRUE, so
    // a NaN-carrying file must record hi = NaN (round-tripped through the
    // manifest text) and survive every lower-bounded probe — a NaN-masked
    // bound would prune files whose NaN rows match the row predicate
    assert(dblBounds.exists(_._2.isNaN),
      "NaN-carrying files must record hi = NaN")
    assert(dblBounds.forall(b => !b._1.isNaN),
      "min never records NaN while finite values exist")
    // pruning: files whose [min,max] misses the >= 200 probe are
    // skipped; "no upper bound" is NaN (the top of Spark's double total
    // order) so an all-NaN file — whose rows DO match score >= 200 under
    // Spark's NaN-greatest semantics — can never be pruned by mistake
    val all = SnapshotTable.entries(dir).map(_._2)
    val kept = all.count { f =>
      st1.get(f).flatMap(_.get("score")) match {
        case Some(cs) =>
          SnapshotTable.ColStat.overlapsDbl(cs, 200.0, Double.NaN)
        case None => true
      }
    }
    assert(kept < all.size,
      s"score >= 200 must skip files ($kept/${all.size})")
    // an all-NaN synthetic stat survives the lower-bounded probe — the
    // NaN-as-top convention that a +∞ ceiling would violate
    assert(SnapshotTable.ColStat.overlapsDbl(
      SnapshotTable.DblStat(Double.NaN, Double.NaN), 200.0, Double.NaN),
      "an all-NaN file must survive a lower-bounded-only probe")
    val got = SnapshotTable.readRangeDbl(spark, dir, "score",
      200.0, Double.NaN).filter(col("score") >= 200.0).count()
    val want = rows.filter(col("score") >= 200.0).count()
    assert(got == want, "pruned read must return exactly the matching rows")
    // DML restaging keeps the double stat (maintenance never degrades
    // skipping — the rewriteWhere contract, now for DblStat too)
    val vDel = SnapshotTable.deleteWhere(spark, dir,
      col("k").between(120L, 179L), "part",
      pruneRange = Some(("k", 120L, 179L)))
    val st2 = SnapshotTable.typedStatsAt(dir, vDel)
    val newFiles = SnapshotTable.entriesAt(dir, vDel).map(_._2)
      .filterNot(all.toSet)
    assert(newFiles.nonEmpty, "the delete must have restaged files")
    assert(newFiles.forall(f => st2.get(f).exists(
      _.get("score").exists(_.isInstanceOf[SnapshotTable.DblStat]))),
      "restaged files must carry the double stat")
  }

  test("DECIMAL manifest stats: exact-numeric pruning (scale-insensitive " +
      "compare), plain-string round trip, DML restaging preserves them") {
    val dir = scratch("graft-snap-dec")
    val rows = (0L until 600L).map(k => (k, "p" + (k % 2))).toSeq
      .toDF("k", "part")
      .withColumn("amount",
        (col("k") * 25).cast(org.apache.spark.sql.types.DecimalType(12, 2)))
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k", "amount"), rangeFiles = 12)
    val st1 = SnapshotTable.typedStatsAt(dir, 1L)
    val decBounds = st1.valuesIterator.flatMap(_.get("amount")).collect {
      case SnapshotTable.DecStat(lo, hi) => (lo, hi)
    }.toSeq
    assert(decBounds.nonEmpty, "amount must carry DecStat")
    assert(decBounds.forall { case (lo, hi) =>
      lo.scale == 2 && hi.scale == 2 },
      "toPlainString round trip must preserve the recorded scale")
    // pruning: the >= 10000 probe must skip low-band files; compareTo is
    // scale-insensitive, so a probe written as 10000 (scale 0) works
    // against scale-2 bounds
    val probeLo = Some(new java.math.BigDecimal("10000"))
    val all = SnapshotTable.entries(dir).map(_._2)
    val kept = all.count { f =>
      st1.get(f).flatMap(_.get("amount")).forall(
        SnapshotTable.ColStat.overlapsDec(_, probeLo, None))
    }
    assert(kept < all.size,
      s"amount >= 10000 must skip files ($kept/${all.size})")
    val got = SnapshotTable.readRangeDec(spark, dir, "amount", probeLo, None)
      .filter(col("amount") >= 10000).count()
    assert(got == rows.filter(col("amount") >= 10000).count())
    // DML restaging keeps the decimal stat
    val vDel = SnapshotTable.deleteWhere(spark, dir,
      col("k").between(40L, 79L), "part",
      pruneRange = Some(("k", 40L, 79L)))
    val st2 = SnapshotTable.typedStatsAt(dir, vDel)
    val newFiles = SnapshotTable.entriesAt(dir, vDel).map(_._2)
      .filterNot(all.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(f => st2.get(f).exists(
      _.get("amount").exists(_.isInstanceOf[SnapshotTable.DecStat]))),
      "restaged files must carry the decimal stat")
  }

  test("a partition value containing tab/newline/CR is rejected LOUDLY at " +
      "stage time — never written into the line-delimited manifest") {
    val dir = scratch("graft-snap-ctl")
    val bad = Seq((1L, "a\tb"), (2L, "ok")).toDF("k", "part")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.overwrite(spark, dir, bad, "part")
    }
    assert(e.getMessage.contains("tab/newline/CR"))
    // nothing committed: the table is still empty and consistent
    assert(SnapshotTable.currentVersion(dir) == 0L)
  }

  test("a malformed stats token (no '=') skips per the documented " +
      "contract instead of failing the whole read path") {
    val dir = scratch("graft-snap-badstat")
    SnapshotTable.overwrite(spark, dir,
      Seq((1L, "p0")).toDF("k", "part"), "part")
    // hand-corrupt the stats field of the live manifest: a foreign writer
    // (or a human) produced a token without '='. Rewrite through the
    // Hadoop FS so the local checksum sidecar stays consistent.
    val (_, f) = SnapshotTable.entries(dir).head
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val mf = new org.apache.hadoop.fs.Path(dir, "manifest-00000000001.txt")
    val in = fs.open(mf)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split("\n").map { l =>
        if (l.startsWith("#") || l.trim.isEmpty) l
        else { val p = l.split('\t'); s"${p(0)}\t${p(1)}\tgarbage;k=1:2\t${p(3)}" }
      }.mkString("\n")
    val out = fs.create(mf, true)
    try out.write(lines.getBytes("UTF-8")) finally out.close()
    val st = SnapshotTable.typedStatsAt(dir, 1L)
    assert(st(f) == Map("k" -> SnapshotTable.LongStat(1L, 2L)),
      "the parseable token must survive, the malformed one must skip")
    assert(SnapshotTable.read(spark, dir).count() == 1L)
  }

  // --- delta manifests + checkpoints (round-10 missing #1) ---

  private def manifestBytes(dir: String, v: Long): Long =
    new java.io.File(dir, f"manifest-$v%011d.txt").length()
  private def manifestRaw(dir: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, f"manifest-$v%011d.txt")), "UTF-8")

  test("commits between checkpoints write O(touched) delta manifests, " +
      "every version resolves exactly, and the Nth commit checkpoints — " +
      "bytes per commit is O(touched + live/N), never O(live)") {
    val dir = scratch("graft-snap-delta")
    // a wide v1 (many live files) makes the O(live)-vs-O(touched)
    // difference visible in manifest byte counts
    val wide = (0L until 400L).map(k => (k, "p" + (k % 40))).toSeq
      .toDF("k", "part").repartition(40, col("part"))
    SnapshotTable.overwrite(spark, dir, wide, "part")            // v1 ckpt
    val liveFiles = SnapshotTable.entries(dir).size
    assert(liveFiles >= 30, s"need a wide table, got $liveFiles files")
    // nine single-partition appends → v2..v10 (v10 = checkpoint at N=10)
    (2L to 10L).foreach { v =>
      SnapshotTable.append(spark, dir,
        Seq((1000L + v, "pNEW" + v)).toDF("k", "part"))
      assert(SnapshotTable.currentVersion(dir) == v)
    }
    // the in-between commits are deltas: tiny (one added file, zero
    // removes) while the v1 checkpoint carries the whole live list
    (2L to 9L).foreach { v =>
      val raw = manifestRaw(dir, v)
      assert(raw.contains("#delta\t" + (v - 1)),
        s"v$v must be a delta on v${v - 1}")
      assert(!raw.contains("-\t"), "an append removes nothing")
      assert(manifestBytes(dir, v) < manifestBytes(dir, 1L) / 4,
        s"delta v$v (${manifestBytes(dir, v)}B) must be far smaller " +
          s"than the checkpoint (${manifestBytes(dir, 1L)}B)")
    }
    assert(!manifestRaw(dir, 10L).contains("#delta"),
      "every 10th version is a full checkpoint")
    // deltas inherit schema/partcol headers so header reads stay
    // single-file (no chain walk for schemaAt/partColAt)
    assert(manifestRaw(dir, 5L).contains("#schema\t") &&
      manifestRaw(dir, 5L).contains("#partcol\tpart"))
    // every version resolves to exactly its cumulative live set, and
    // time travel across the delta chain stays bit-correct
    (1L to 10L).foreach { v =>
      assert(SnapshotTable.entriesAt(dir, v).size == liveFiles + (v - 1),
        s"v$v resolved entry count")
      assert(SnapshotTable.readAt(spark, dir, v).count() == 400L + (v - 1))
    }
    // fileMetaAt carries through the chain: the zero-RPC contract holds
    // for delta-committed files too
    val meta = SnapshotTable.fileMetaAt(dir, 9L)
    assert(SnapshotTable.entriesAt(dir, 9L).forall(e => meta.contains(e._2)),
      "every live file must keep its recorded bytes:rows through deltas")
  }

  test("row-level DML through deltas records removes AND adds; stats " +
      "survive the chain; an overwrite-sized change falls back to a " +
      "full manifest even off-cadence") {
    val dir = scratch("graft-snap-dml-delta")
    val rows = (0L until 300L).map(k => (k, "p" + (k % 3))).toSeq
      .toDF("k", "part")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k"), rangeFiles = 9)                      // v1
    SnapshotTable.append(spark, dir, Seq((900L, "p0")).toDF("k", "part"))
    val v3 = SnapshotTable.deleteWhere(spark, dir, col("k") === 5L, "part",
      pruneRange = Some(("k", 5L, 5L)))                          // v3 delta
    val raw3 = manifestRaw(dir, v3)
    assert(raw3.contains("#delta\t2") && raw3.contains("-\t") &&
      raw3.contains("+\t"), "a rewrite delta has both removes and adds")
    assert(SnapshotTable.readAt(spark, dir, v3).count() == 300L)
    // restaged files keep typed stats through the delta view
    val st = SnapshotTable.typedStatsAt(dir, v3)
    assert(st.nonEmpty && st.valuesIterator.exists(_.contains("k")))
    // a full overwrite at v4 (off the 10-cadence) still writes a FULL
    // manifest — its delta would remove + re-add everything, so the
    // size fallback picks the checkpoint form
    SnapshotTable.overwrite(spark, dir, rows, "part")            // v4
    assert(!manifestRaw(dir, 4L).contains("#delta"),
      "an overwrite's manifest must be a checkpoint, not a same-size delta")
  }

  test("vacuum materializes the retention cutoff as a checkpoint before " +
      "deleting below it — delta chains never dangle past retention") {
    val dir = scratch("graft-snap-vac-delta")
    SnapshotTable.overwrite(spark, dir, baseRows, "month")       // v1 ckpt
    (2L to 6L).foreach { v =>
      SnapshotTable.append(spark, dir,
        Seq((100L + v, "x" + v, 1.0, "2024-0" + (v % 9), 0L, false))
          .toDF("k", "name", "price", "month", "version", "del"))
    }
    assert(manifestRaw(dir, 5L).contains("#delta"),
      "precondition: the future cutoff is a delta")
    SnapshotTable.vacuum(dir, keepVersions = 2)                  // keep 5,6
    assert(!SnapshotTable.manifestExists(dir, 4L) &&
      SnapshotTable.manifestExists(dir, 5L))
    assert(!manifestRaw(dir, 5L).contains("#delta"),
      "the cutoff must have been rewritten as a full checkpoint")
    assert(manifestRaw(dir, 6L).contains("#delta\t5"),
      "the newer delta still chains to the (now-full) cutoff")
    assert(SnapshotTable.readAt(spark, dir, 5L).count() == 9L &&
      SnapshotTable.read(spark, dir).count() == 10L,
      "both retained versions stay exactly readable")
  }

  test("a failed commit attempt discards its staged-batch metadata: the " +
      "size/row maps never grow across CAS losses (driver-JVM leak pin)") {
    val dir = scratch("graft-snap-leak")
    SnapshotTable.overwrite(spark, dir, baseRows, "month") // v1
    val before = SnapshotTable.stagedMetaCount
    // deterministically occupy manifest v2 WITHOUT moving the pointer:
    // the next committer passes the CAS version check but loses the
    // manifest no-replace rename — the "racing writer prepared the same
    // version" path — and must clean up after itself
    SnapshotTable.prepareManifest(dir, SnapshotTable.entries(dir))
    intercept[IllegalStateException] {
      SnapshotTable.append(spark, dir, baseRows, maxAttempts = 1)
    }
    assert(SnapshotTable.stagedMetaCount == before,
      "the failed append must discard its staged size/row entries")
  }

  test("upsert with a narrow LONG key batch restages only files whose " +
      "recorded key stats overlap the batch; disjoint files carry forward " +
      "by identical path with their stats") {
    val dir = scratch("graft-snap-upsert-prune")
    val rows = (1L to 100L).map(k =>
      (k, s"n$k", k * 1.0, if (k % 2 == 0) "2024-01" else "2024-02",
        0L, false))
      .toDF("k", "name", "price", "month", "version", "del")
    SnapshotTable.overwriteClustered(spark, dir, rows, "month",
      statsCols = Seq("k"), rangeFiles = 10)
    val before = SnapshotTable.entriesAt(dir, 1L).map(_._2).toSet
    // both partitions are touched (odd and even keys in the band), but
    // only the files covering k ∈ [10, 20] may restage
    val updates = Seq(
      (10L, "N10", 110.0, "2024-01", 1L, false),   // update
      (11L, "n11", 11.0, "2024-02", 1L, true),     // tombstone
      (20L, "N20", 120.0, "2024-01", 1L, false))
      .toDF("k", "name", "price", "month", "version", "del")
    val v2 = SnapshotTable.upsert(spark, dir, updates,
      "month", Seq("k"), "version", "del")
    assert(v2 == 2L)
    val after = SnapshotTable.entriesAt(dir, 2L).map(_._2).toSet
    val carried = before.intersect(after)
    assert(carried.nonEmpty,
      "key-stats pruning must carry the disjoint files forward")
    assert(before.diff(after).nonEmpty, "overlapping files must restage")
    // carried files keep their manifest stats (range skipping survives)
    val st2 = SnapshotTable.statsAt(dir, 2L)
    assert(carried.forall(st2.contains))
    // and the merge result is exactly the three-row edit
    val got = SnapshotTable.read(spark, dir)
      .select("k", "name", "price").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val want = (1L to 100L).filterNot(_ == 11L).map {
      case 10L => (10L, "N10", 110.0)
      case 20L => (20L, "N20", 120.0)
      case k => (k, s"n$k", k * 1.0)
    }.toSet
    assert(got == want)
  }
}
