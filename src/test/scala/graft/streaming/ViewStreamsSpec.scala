package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming join-view maintenance: accumulated view ≡ one-shot batch
  * join of everything seen, across interleaved sides and batches; crash
  * replay of an epoch is byte-idempotent. */
class ViewStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("maintained view equals the one-shot join across interleaved batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("graft_vs")
    val ckpt = scratch("graft_vs_ck")
    // (side, k, av, bv) — irrelevant side's payload carried as null
    val ms = MemoryStream[(String, Long, String, String)]
    val q = ViewStreams.streamingJoinView(
      ms.toDF().toDF("side", "k", "av", "bv"),
      "side", Seq("k"), Seq("av"), Seq("bv"), root, ckpt)
    // batch 0: a-rows only; batch 1: matching b-rows + one same-batch pair;
    // batch 2: late a-row matching an OLD b-row, plus fanout
    ms.addData(("a", 1L, "a1", null), ("a", 2L, "a2", null))
    q.processAllAvailable()
    ms.addData(("b", 1L, null, "b1"), ("a", 3L, "a3", null), ("b", 3L, null, "b3"))
    q.processAllAvailable()
    ms.addData(("a", 1L, "a4", null), ("b", 2L, null, "b2"), ("b", 2L, null, "b2x"))
    q.processAllAvailable()
    q.stop()

    val got = ViewStreams.currentView(spark, root)
      .select("k", "av", "bv").collect().map(_.mkString("|")).toSeq.sorted
    val allA = Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (1L, "a4")).toDF("k", "av")
    val allB = Seq((1L, "b1"), (3L, "b3"), (2L, "b2"), (2L, "b2x")).toDF("k", "bv")
    val want = allA.join(allB, Seq("k"))
      .select("k", "av", "bv").collect().map(_.mkString("|")).toSeq.sorted
    assert(got == want && want.size == 5)
  }

  test("replaying an epoch is idempotent: same bases, same bytes") {
    import graft.ops.ViewMaintain
    val root = scratch("graft_vs_rp")
    // committed epoch 0 bases
    Seq((1L, "a1")).toDF("k", "av").write.parquet(s"$root/base_a/delta_0")
    Seq((1L, "b1")).toDF("k", "bv").write.parquet(s"$root/base_b/delta_0")
    // epoch 1 the "crashed" batch: compute, write, then REPLAY
    val da = Seq((1L, "a2")).toDF("k", "av")
    val db = Seq.empty[(Long, String)].toDF("k", "bv")
    def applyEpoch(): Unit = {
      val a = spark.read.parquet(s"$root/base_a/delta_0")
      val b = spark.read.parquet(s"$root/base_b/delta_0")
      ViewMaintain.joinViewDelta(a, da, b, db, Seq("k"))
        .write.mode("overwrite").parquet(s"$root/view/delta_1")
      da.write.mode("overwrite").parquet(s"$root/base_a/delta_1")
      db.write.mode("overwrite").parquet(s"$root/base_b/delta_1")
    }
    applyEpoch()
    val first = spark.read.parquet(s"$root/view/delta_1")
      .collect().map(_.mkString("|")).toSeq.sorted
    applyEpoch() // replay
    val second = spark.read.parquet(s"$root/view/delta_1")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(first == second && first == Seq("1|a2|b1"))
  }
}
