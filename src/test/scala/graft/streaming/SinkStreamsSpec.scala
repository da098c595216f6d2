package graft.streaming

import graft.SparkSpec
import graft.sources.Sinks

class SinkStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def readState(baseDir: String): Set[(Long, String, String)] =
    spark.read.parquet(baseDir)
      .select("k", "payload", "p").as[(Long, String, String)].collect().toSet

  test("streamed CDC apply over two micro-batches equals the one-shot " +
    "merge of all changes; replaying a batch is a fixed point") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mkDir = (p: String) => scratch(p)
    val baseDir = mkDir("graft-cdc-base")
    val oneShotDir = mkDir("graft-cdc-oneshot")
    val stagingRoot = mkDir("graft-cdc-stage")
    val ckpt = mkDir("graft-cdc-ckpt")

    val base = Seq(
      (1L, "one", "A", 0L, false),
      (2L, "two", "A", 0L, false),
      (3L, "three", "B", 0L, false)
    ).toDF("k", "payload", "p", "version", "del")
    base.write.mode("overwrite").partitionBy("p").parquet(baseDir)
    base.write.mode("overwrite").partitionBy("p").parquet(oneShotDir)

    // batch 1: update k=1, insert k=10 (new partition); batch 2 (later
    // versions): tombstone k=2, re-update k=1
    val batch1 = Seq(
      (1L, "one-v1", "A", 1L, false),
      (10L, "ten", "C", 1L, false))
    val batch2 = Seq(
      (2L, "two", "A", 2L, true),
      (1L, "one-v2", "A", 2L, false))

    val ms = MemoryStream[(Long, String, String, Long, Boolean)]
    val q = SinkStreams.streamingUpsert(
      ms.toDF().toDF("k", "payload", "p", "version", "del"),
      baseDir, "p", Seq("k"), "version", "del", stagingRoot, ckpt)
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val expected = Set(
      (1L, "one-v2", "A"), (3L, "three", "B"), (10L, "ten", "C"))
    assert(readState(baseDir) === expected)

    // one-shot merge of the concatenated change set lands the same state
    Sinks.upsertPartitioned(spark, oneShotDir,
      (batch1 ++ batch2).toDF("k", "payload", "p", "version", "del"),
      "p", Seq("k"), "version", "del", mkDir("graft-cdc-stage1"))
    assert(readState(oneShotDir) === expected)

    // crash-replay: re-applying batch 2 against the merged base changes
    // nothing (the fixed-point property the scaladoc claims)
    Sinks.upsertPartitioned(spark, baseDir,
      batch2.toDF("k", "payload", "p", "version", "del"),
      "p", Seq("k"), "version", "del", mkDir("graft-cdc-stage2"))
    assert(readState(baseDir) === expected)
  }

  test("streamed CDC apply through the manifest-pinned snapshot table: " +
    "each trigger commits one atomic version; state equals the directory form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.SnapshotTable
    implicit val sqlCtx = spark.sqlContext
    val mkDir = (p: String) => scratch(p)
    val tableDir = mkDir("graft-cdc-snap")
    val ckpt = mkDir("graft-cdc-snap-ckpt")

    val base = Seq(
      (1L, "one", "A", 0L, false),
      (2L, "two", "A", 0L, false),
      (3L, "three", "B", 0L, false)
    ).toDF("k", "payload", "p", "version", "del")
    val v0 = SnapshotTable.overwrite(spark, tableDir, base, "p")

    val ms = MemoryStream[(Long, String, String, Long, Boolean)]
    val q = SinkStreams.streamingSnapshotUpsert(
      ms.toDF().toDF("k", "payload", "p", "version", "del"),
      tableDir, "p", Seq("k"), "version", "del", ckpt)
    ms.addData((1L, "one-v1", "A", 1L, false), (10L, "ten", "C", 1L, false))
    q.processAllAvailable()
    val v1 = SnapshotTable.currentVersion(tableDir)
    ms.addData((2L, "two", "A", 2L, true), (1L, "one-v2", "A", 2L, false))
    q.processAllAvailable()
    q.stop()

    val expected = Set(
      (1L, "one-v2", "A"), (3L, "three", "B"), (10L, "ten", "C"))
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "p").as[(Long, String, String)].collect().toSet
    assert(stateOf(SnapshotTable.read(spark, tableDir)) === expected)
    // one committed version per non-empty trigger
    assert(v0 == 1L && v1 == 2L && SnapshotTable.currentVersion(tableDir) == 3L)
    // time travel still serves the mid-stream state
    assert(stateOf(SnapshotTable.readAt(spark, tableDir, v1)) ===
      Set((1L, "one-v1", "A"), (2L, "two", "A"), (3L, "three", "B"), (10L, "ten", "C")))
  }

  test("a restarted stream with an ADDED column evolves the snapshot table: " +
    "new column table-wide (old rows null), pre-evolution versions keep " +
    "their own schema") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.SnapshotTable
    implicit val sqlCtx = spark.sqlContext
    val mkDir = (p: String) => scratch(p)
    val tableDir = mkDir("graft-cdc-evo")
    val base = Seq((1L, "one", "A", 0L, false), (2L, "two", "B", 0L, false))
      .toDF("k", "payload", "p", "version", "del")
    val v1 = SnapshotTable.overwrite(spark, tableDir, base, "p")
    // the redeployed pipeline's stream carries a NEW `src` column
    val ms = MemoryStream[(Long, String, String, Long, Boolean, String)]
    val q = SinkStreams.streamingSnapshotUpsert(
      ms.toDF().toDF("k", "payload", "p", "version", "del", "src"),
      tableDir, "p", Seq("k"), "version", "del", mkDir("graft-cdc-evo-ckpt"))
    ms.addData((1L, "one-v1", "A", 1L, false, "cdc"))
    q.processAllAvailable()
    q.stop()
    val live = SnapshotTable.read(spark, tableDir)
    assert(live.columns.contains("src"))
    val src = live.select("k", "src").as[(Long, Option[String])]
      .collect().toMap
    assert(src(1L) === Some("cdc") && src(2L).isEmpty)
    // the pre-evolution version still reads with ITS columns
    assert(!SnapshotTable.readAt(spark, tableDir, v1).columns.contains("src"))
  }
}
