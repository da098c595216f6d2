package graft.streaming

import graft.SparkSpec
import graft.dedup.Dedup

class DedupStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streamed incremental dedup over two micro-batches equals the " +
    "one-shot batch answer on the full incoming set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "completely different words entirely here now friends"),
      (14L, "another corpus document about nothing in particular today")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (21L, "the quick brown fox jumps over the lazy dog"),
      (23L, "fresh unseen content with no earlier counterpart anywhere"))
    val batch2 = Seq(
      (25L, "the quick brown fox jumps over the lazy cat"),
      (27L, "another corpus document about nothing in particular today"))

    val out = scratch("graft-incdedup")
    val ckpt = scratch("graft-incdedup-c")
    val ms = MemoryStream[(Long, String)]
    val q = DedupStreams.streamingCrossSnapshotDedup(
      ms.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text", out, ckpt)
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // two real micro-batches, each with its own epoch directory
    val dirs = new java.io.File(out).list().filter(_.startsWith("batch_"))
    assert(dirs.length == 2, dirs.mkString(","))

    val streamed = spark.read.parquet(s"$out/batch_*")
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.crossSnapshotNearDups(
      corpus, (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === oneShot)
    // sanity on content: the exact dup and the corpus-identical doc match,
    // the novel doc matches nothing
    assert(streamed.exists(r => r._1 == 21L && r._2 == 10L && r._3 == 1.0))
    assert(streamed.exists(r => r._1 == 27L && r._2 == 14L && r._3 == 1.0))
    assert(!streamed.exists(_._1 == 23L))
  }

  test("streaming embedding near-dup detection over two micro-batches " +
    "equals the one-shot batch answer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def v(hot: Int): Seq[Float] =
      (0 until 64).map(i => if (i == hot % 64) 1.0f else 0.0f)
    val corpus = Seq((10L, v(3)), (20L, v(7)), (22L, v(9)))
      .toDF("vec_id", "embedding")
    val batch1 = Seq((11L, v(3)), (15L, v(21)))
    val batch2 = Seq((13L, v(3)), (17L, v(7)))

    val out = scratch("graft-embdedup")
    val ckpt = scratch("graft-embdedup-c")
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = DedupStreams.streamingEmbNearDups(
      ms.toDF().toDF("vec_id", "embedding"), corpus, "vec_id", "embedding",
      out, ckpt, threshold = 0.9)
    ms.addData(batch1: _*); q.processAllAvailable()
    ms.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(s"$out/batch_*")
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    val oneShot = graft.sim.Similarity.crossSnapshotEmbNearDups(
      corpus, (batch1 ++ batch2).toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.9)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(streamed === oneShot)
    assert(streamed === Set((11L, 10L), (13L, 10L), (17L, 20L)))
  }

  test("streaming COMPLETE SimHash dedup over two micro-batches equals " +
    "the one-shot Manku cross-snapshot answer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "completely different words entirely here now friends"),
      (14L, "another corpus document about nothing in particular today")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (21L, "the quick brown fox jumps over the lazy dog"),
      (23L, "fresh unseen content with no earlier counterpart anywhere"))
    val batch2 = Seq(
      (25L, "the quick brown fox jumps over the lazy dog today"),
      (27L, "wholly novel second-batch material with zero overlap"))

    val out = scratch("graft-simdedup")
    val ckpt = scratch("graft-simdedup-c")
    val ms = MemoryStream[(Long, String)]
    val q = DedupStreams.streamingSimhashDedup(
      ms.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text", out, ckpt)
    ms.addData(batch1: _*); q.processAllAvailable()
    ms.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    val dirs = new java.io.File(out).list().filter(_.startsWith("batch_"))
    assert(dirs.length == 2, dirs.mkString(","))
    val streamed = spark.read.parquet(s"$out/batch_*")
      .as[(Long, Long, Int)].collect().toSet
    val oneShot = Dedup.mankuCrossSnapshotPairs(
      Dedup.simhashSignatures(corpus, "doc_id", "text"),
      Dedup.simhashSignatures(
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text"))
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed === oneShot)
    // the exact dup is a Hamming-0 match against its corpus original
    assert(streamed.contains((21L, 10L, 0)))
  }

  test("streaming cluster maintenance over three micro-batches equals the " +
    "one-shot CC recompute, including a cross-batch merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    // batch1 plants cluster {1,2}; batch2 plants {20,22} (text b) and a
    // loner; batch3 brings a twin of text a — a CROSS-BATCH merge into
    // the {1,2} cluster via the new×settled path
    val batch1 = Seq((1L, a), (2L, a + " mu"))
    val batch2 = Seq((20L, b), (22L, b + " eleven"),
      (30L, "totally unrelated content matching nothing else at all"))
    val batch3 = Seq((41L, a))

    val state = scratch("graft-clstate")
    val ckpt = scratch("graft-clstate-c")
    val ms = MemoryStream[(Long, String)]
    val q = DedupStreams.streamingClusterMaintenance(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", state, ckpt,
      threshold = 0.3)
    ms.addData(batch1: _*); q.processAllAvailable()
    ms.addData(batch2: _*); q.processAllAvailable()
    ms.addData(batch3: _*); q.processAllAvailable()
    q.stop()

    val streamed = DedupStreams.latestClusters(spark, state)
      .as[(Long, Long)].collect().toMap
    val allDocs = (batch1 ++ batch2 ++ batch3).toDF("doc_id", "text")
    val oneShot = graft.graph.GraphOps.connectedComponents(spark,
        Dedup.minhashLshPairs(allDocs, "doc_id", "text", threshold = 0.3)
          .select(col("a"), col("b")))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .as[(Long, Long)].collect().toMap
    assert(streamed === oneShot)
    // the batch-3 doc joined the batch-1 cluster across epochs
    assert(streamed(41L) === streamed(1L))
    assert(streamed(20L) !== streamed(1L))
    assert(!streamed.contains(30L))
    // settled docs accumulated across epochs
    val lastEpoch = new java.io.File(state).list()
      .filter(_.startsWith("state_")).map(_.stripPrefix("state_").toLong).max
    assert(spark.read.parquet(s"$state/state_$lastEpoch/docs").count() === 6)
  }
}
