package graft.sources.v2

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.sources.SnapshotTable

/** The format-level STREAMING sink (`df.writeStream
  * .format("graft-snapshot")`): one transactional snapshot commit per
  * trigger, create-on-first-batch, and exactly-once over at-least-once
  * trigger replay via the `#txn` (appId, batchId) watermark. */
class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  test("a real stream commits one version per trigger; the first batch " +
      "creates the table; the txn watermark tracks the last batch id") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = scratch("graft-sink")
    val ckpt = scratch("graft-sink-c")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "part")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("partCol", "part").option("txnAppId", "sink-spec")
      .outputMode("append").option("path", dir).start()
    try {
      ms.addData((1L, "p0"), (2L, "p1"))
      q.processAllAvailable()
      assert(SnapshotTable.currentVersion(dir) == 1L)
      assert(SnapshotTable.read(spark, dir).count() == 2L)
      ms.addData((3L, "p0"))
      q.processAllAvailable()
      assert(SnapshotTable.currentVersion(dir) == 2L)
      assert(SnapshotTable.read(spark, dir)
        .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
      // the watermark names the LAST committed batch for this app
      assert(SnapshotTable.txnsAt(dir, 2L) == Map("sink-spec" -> 1L))
      // the second commit is an append → a delta manifest, one version,
      // transactional like any Scala-API commit
      assert(SnapshotTable.opAt(dir, 2L).contains("insert"))
    } finally q.stop()
  }

  test("replayed batch ids are SKIPPED (exactly-once): re-applying the " +
      "same (appId, batchId) commits nothing, a NEWER id commits") {
    val dir = scratch("graft-sink-replay")
    val sink = new SnapshotSource().createSink(spark.sqlContext,
      Map("path" -> dir, "partCol" -> "part", "txnAppId" -> "replayer"),
      Nil, OutputMode.Append())
    def batch(ks: Long*) = ks.map(k => (k, "p" + (k % 2)))
      .toDF("k", "part")
    sink.addBatch(0L, batch(1L, 2L))
    assert(SnapshotTable.currentVersion(dir) == 1L)
    // crash-replay of batch 0: at-least-once delivery, exactly-once effect
    sink.addBatch(0L, batch(1L, 2L))
    assert(SnapshotTable.currentVersion(dir) == 1L,
      "replayed batch must not commit a second version")
    assert(SnapshotTable.read(spark, dir).count() == 2L,
      "replayed rows must not double-apply")
    sink.addBatch(1L, batch(3L))
    assert(SnapshotTable.currentVersion(dir) == 2L &&
      SnapshotTable.read(spark, dir).count() == 3L)
    // an OLDER id replayed after a newer one is also skipped
    sink.addBatch(0L, batch(9L))
    assert(SnapshotTable.currentVersion(dir) == 2L &&
      SnapshotTable.read(spark, dir).count() == 3L)
  }

  test("complete mode overwrites per trigger; update mode and a " +
      "create without partCol are refused loudly") {
    val dir = scratch("graft-sink-complete")
    val sink = new SnapshotSource().createSink(spark.sqlContext,
      Map("path" -> dir, "partCol" -> "part"), Nil, OutputMode.Complete())
    sink.addBatch(0L, Seq((1L, "p0"), (2L, "p1")).toDF("k", "part"))
    sink.addBatch(1L, Seq((9L, "p0")).toDF("k", "part"))
    assert(SnapshotTable.currentVersion(dir) == 2L)
    assert(SnapshotTable.read(spark, dir)
      .select("k").as[Long].collect().toSeq == Seq(9L),
      "complete mode must replace the table content per trigger")
    val exMode = intercept[IllegalArgumentException] {
      new SnapshotSource().createSink(spark.sqlContext,
        Map("path" -> dir), Nil, OutputMode.Update())
    }
    assert(exMode.getMessage.contains("SnapshotTable.upsert from foreachBatch"))
    val exPc = intercept[IllegalArgumentException] {
      new SnapshotSource().createSink(spark.sqlContext,
        Map("path" -> scratch("graft-sink-nopc")),
        Nil, OutputMode.Append())
        .addBatch(0L, Seq((1L, "x")).toDF("k", "part"))
    }
    assert(exPc.getMessage.contains("partCol"))
    // a schema-mismatched later batch is rejected by the append contract
    val exSch = intercept[IllegalArgumentException] {
      new SnapshotSource().createSink(spark.sqlContext,
        Map("path" -> dir, "txnAppId" -> "other"), Nil, OutputMode.Append())
        .addBatch(0L, Seq((1L, "x", 2.0)).toDF("k", "part", "extra"))
    }
    assert(exSch.getMessage.toLowerCase.contains("unexpected"))
  }
}
