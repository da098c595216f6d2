package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.graph.GraphOps

/** Streaming component maintenance: the per-batch incremental fold must
  * equal the one-shot CC over every edge seen, across merges that span
  * batch boundaries. */
class GraphStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("three micro-batches of edges fold to the one-shot component " +
      "labeling, including a cross-batch merge of two settled components") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // batch 1 builds {1,2,3} and {10,11}; batch 2 attaches new nodes to
    // each; batch 3 bridges the two settled components AND starts a
    // brand-new one — the merge case full CC would re-derive from all
    // edges, the fold must get from contraction alone
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val b2 = Seq((3L, 4L), (11L, 12L))
    val b3 = Seq((4L, 12L), (40L, 41L))

    val state = scratch("graft-gstream")
    val ckpt = scratch("graft-gstream-c")
    val ms = MemoryStream[(Long, Long)]
    val q = GraphStreams.streamingComponentMaintenance(
      ms.toDF().toDF("src", "dst"), state, ckpt)
    Seq(b1, b2, b3).foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val dirs = new java.io.File(state).list().filter(_.startsWith("state_"))
    assert(dirs.length == 3, dirs.mkString(","))

    val streamed = GraphStreams.latestComponents(spark, state)
      .as[(Long, Long)].collect().toMap
    val oneShot = GraphOps.connectedComponents(
        spark, (b1 ++ b2 ++ b3).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(streamed === oneShot)
    assert(streamed(12L) == 1L, "cross-batch bridge must merge to min id 1")
    assert(streamed(41L) == 40L)

    // epoch replay: recomputing the LAST epoch from the one before it
    // (what a crashed batch-2 retry does) reproduces the identical table
    val prior = spark.read.parquet(s"$state/state_1/labels")
    val replay = GraphOps.connectedComponentsIncremental(
        spark, prior, b3.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(replay === streamed)

    // crash-mid-write epoch: a state_ directory WITHOUT the parquet
    // _SUCCESS marker (what a killed writer leaves) must be invisible to
    // readers — latestComponents serves the last COMPLETE epoch instead
    // of failing on (or trusting) truncated data
    val partial = new java.io.File(s"$state/state_9/labels")
    partial.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(partial.toString, "part-00000.parquet"),
      Array[Byte](1, 2, 3)) // garbage bytes, no _SUCCESS
    val afterCrash = GraphStreams.latestComponents(spark, state)
      .as[(Long, Long)].collect().toMap
    assert(afterCrash === streamed,
      "reader must skip the incomplete epoch and serve the last complete one")
  }

  test("table -> change feed -> incremental components: edges land in the " +
      "snapshot table by upsert, the CDF stream folds each commit's " +
      "inserts, and the labeling equals the one-shot CC over the live table") {
    import graft.sources.SnapshotTable
    val tableDir = scratch("graft-gcdf-table")
    val state = scratch("graft-gcdf-state")
    val ckpt = scratch("graft-gcdf-ck")
    def edges(rows: Seq[(Long, Long)], v: Long) = rows
      .toDF("src", "dst")
      .withColumn("eid", col("src") * 1000 + col("dst"))
      .withColumn("p", lit("all"))
      .withColumn("version", lit(v))
      .withColumn("del", lit(false))
    SnapshotTable.overwrite(spark, tableDir,
      edges(Seq((1L, 2L), (10L, 11L)), 0L), "p")                    // v1
    val q = GraphStreams.componentMaintenanceFromTable(spark, tableDir,
      keyCols = Seq("eid"), srcCol = "src", dstCol = "dst", state, ckpt)
    q.processAllAvailable()                                         // baseline
    // two more commits: attach + the cross-component bridge
    for ((rows, v) <- Seq(Seq((2L, 3L), (11L, 12L)) -> 1L,
        Seq((3L, 12L), (40L, 41L)) -> 2L)) {
      SnapshotTable.upsert(spark, tableDir, edges(rows, v), "p",
        Seq("eid"), "version", "del")
      q.processAllAvailable()
    }
    q.stop()
    val streamed = GraphStreams.latestComponents(spark, state)
      .as[(Long, Long)].collect().toMap
    val oneShot = graft.graph.GraphOps.connectedComponents(spark,
        SnapshotTable.read(spark, tableDir).select("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(streamed === oneShot)
    assert(streamed(12L) == 1L && streamed(41L) == 40L)
  }
}
