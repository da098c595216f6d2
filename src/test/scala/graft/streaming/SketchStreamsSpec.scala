package graft.streaming

import graft.SparkSpec
import graft.text.Sketches

class SketchStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streamed HLL register maintenance over two micro-batches equals " +
    "the one-shot batch registers (and therefore the same estimate)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1 to 300).map(i => ("en", s"tok$i alpha beta"))
    val batch2 = (200 to 500).map(i => ("en", s"tok$i gamma")) ++
      Seq(("fr", "un deux trois"))

    val out = scratch("graft-hll")
    val ckpt = scratch("graft-hll-c")
    val ms = MemoryStream[(String, String)]
    val q = SketchStreams.streamingHllRegisters(
      ms.toDF().toDF("lang", "text"), "text", "lang", out, ckpt)
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // two epochs, each a complete committed register table
    val dirs = new java.io.File(out).list().filter(_.startsWith("registers_"))
    assert(dirs.length == 2, dirs.mkString(","))

    val streamed = SketchStreams.latestRegisters(spark, out)
      .as[(String, Long, Int)].collect().toSet
    val oneShot = Sketches.hllRegisters(
      (batch1 ++ batch2).toDF("lang", "text"), "text", "lang")
      .as[(String, Long, Int)].collect().toSet
    assert(streamed === oneShot)

    // and the estimates agree with the batch query path
    val se = Sketches.hllEstimate(SketchStreams.latestRegisters(spark, out))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val be = Sketches.hllEstimate(Sketches.hllRegisters(
      (batch1 ++ batch2).toDF("lang", "text"), "text", "lang"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(se === be)
    assert(se.keySet === Set("en", "fr"))
  }

  test("streamed CMS cell maintenance over two micro-batches equals the " +
    "one-shot batch cells (and probes agree with exact counts)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.text.Relevance
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1 to 200).map(i => s"alpha tok$i common")
    val batch2 = (1 to 150).map(i => s"beta tok$i common")

    val out = scratch("graft-cms")
    val ckpt = scratch("graft-cms-c")
    val ms = MemoryStream[String]
    val q = SketchStreams.streamingCmsCells(
      ms.toDF().toDF("text"), "text", out, ckpt)
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val dirs = new java.io.File(out).list().filter(_.startsWith("cells_"))
    assert(dirs.length == 2, dirs.mkString(","))

    val streamed = SketchStreams.latestCells(spark, out)
      .as[(Int, Long, Long)].collect().toSet
    val oneShot = Relevance.cmsCells((batch1 ++ batch2).toDF("text"), "text")
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed === oneShot)

    // probing the maintained sketch upper-bounds (here: equals, the corpus
    // is far below the collision regime) the exact counts
    val probed = Relevance.cmsProbe(SketchStreams.latestCells(spark, out),
      Seq("common", "alpha", "beta", "never-seen").toDF("token"), "token")
      .as[(String, Long)].collect().toMap
    assert(probed("common") === 350L)
    assert(probed("alpha") === 200L)
    assert(probed("beta") === 150L)
    assert(probed("never-seen") === 0L)
  }

  test("cmsMerge is the cell-wise sum for any DISJOINT split of the corpus") {
    import graft.text.Relevance
    val docs = (1 to 400).map(i => s"w${i % 37} filler$i")
    val (a, b) = docs.splitAt(123)
    val merged = Relevance.cmsMerge(
      Relevance.cmsCells(a.toDF("text"), "text"),
      Relevance.cmsCells(b.toDF("text"), "text"))
      .as[(Int, Long, Long)].collect().toSet
    val direct = Relevance.cmsCells(docs.toDF("text"), "text")
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === direct)
  }

  test("streamed histogram-bin maintenance equals one-shot bins, and " +
    "quantile ranks from the maintained state match the batch path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1 to 300).map(i => i.toLong * 7 % 997)
    val batch2 = (1 to 200).map(i => i.toLong * 13 % 997)

    val out = scratch("graft-hist")
    val ckpt = scratch("graft-hist-c")
    val ms = MemoryStream[Long]
    val q = SketchStreams.streamingHistogramBins(
      ms.toDF().toDF("v"), "v", out, ckpt)
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = SketchStreams.latestBins(spark, out)
      .as[(Long, Long)].collect().toSet
    val oneShot = Sketches.histogramBins((batch1 ++ batch2).toDF("v"), "v")
      .as[(Long, Long)].collect().toSet
    assert(streamed === oneShot)

    val qs = Seq(0.25, 0.5, 0.9)
    val se = Sketches.quantileRanksFromBins(
      SketchStreams.latestBins(spark, out), qs)
      .as[(Double, Long, Long)].collect().toSet
    val be = Sketches.quantileRanksFromBins(
      Sketches.histogramBins((batch1 ++ batch2).toDF("v"), "v"), qs)
      .as[(Double, Long, Long)].collect().toSet
    assert(se === be)
    assert(se.nonEmpty)
  }

  test("streamed KMV sketch maintenance equals the one-shot sketch, and " +
    "estimates from it match the batch query path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1 to 300).map(i => ("en", s"tok$i shared"))
    val batch2 = (200 to 450).map(i => ("en", s"tok$i")) ++
      Seq(("fr", "un deux trois"))

    val out = scratch("graft-kmv")
    val ckpt = scratch("graft-kmv-c")
    val ms = MemoryStream[(String, String)]
    val q = SketchStreams.streamingKmvSketch(
      ms.toDF().toDF("lang", "text"), "text", "lang", out, ckpt, k = 64)
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = SketchStreams.latestKmv(spark, out)
      .as[(String, Long)].collect().toSet
    val oneShot = Sketches.kmvSketch(
      (batch1 ++ batch2).toDF("lang", "text"), "text", "lang", k = 64)
      .as[(String, Long)].collect().toSet
    assert(streamed === oneShot)

    // estimate from the maintained sketch = the batch kmvDistinctTokens
    // estimate (same kth hash); fr has < k values -> exact fallback
    val se = Sketches.kmvEstimateFromSketch(
      SketchStreams.latestKmv(spark, out), k = 64)
      .as[(String, Long, Option[Long], Double)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    val be = Sketches.kmvDistinctTokens(
      (batch1 ++ batch2).toDF("lang", "text"), "text", "lang", k = 64)
      .as[(String, Long, Option[Long], Double)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(se("en") === be("en"))
    assert(se("fr")._1.isEmpty && se("fr")._2 === 3.0)
  }

  test("kmvMerge is the re-truncated min-union for ANY split of the corpus") {
    val docs = (1 to 400).map(i => ("g", s"w$i"))
    val (a, b) = docs.splitAt(123)
    val withOverlap = b ++ a.take(50) // overlapping, uneven split
    val merged = Sketches.kmvMerge(64)(
      Sketches.kmvSketch(a.toDF("lang", "text"), "text", "lang", 64),
      Sketches.kmvSketch(withOverlap.toDF("lang", "text"), "text", "lang", 64))
      .as[(String, Long)].collect().toSet
    val direct = Sketches.kmvSketch(docs.toDF("lang", "text"), "text", "lang", 64)
      .as[(String, Long)].collect().toSet
    assert(merged === direct)
    assert(merged.size === 64)
  }

  test("hllMerge is the cell-wise max for ANY split of the corpus") {
    val docs = (1 to 400).map(i => ("g", s"w$i"))
    val (a, b) = docs.splitAt(123)
    // overlapping, uneven split: merge(A, B∪overlap) == registers(A∪B)
    val withOverlap = b ++ a.take(50)
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(a.toDF("lang", "text"), "text", "lang"),
      Sketches.hllRegisters(withOverlap.toDF("lang", "text"), "text", "lang"))
      .as[(String, Long, Int)].collect().toSet
    val direct = Sketches.hllRegisters(docs.toDF("lang", "text"), "text", "lang")
      .as[(String, Long, Int)].collect().toSet
    assert(merged === direct)
  }

  test("streamed aggregate-state maintenance over two micro-batches " +
    "equals the one-shot aggregate; keys only in one batch survive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // (custkey, revenue_cents, 1) rows; key 1 spans both batches, key 2
    // exists only in batch 1, key 9 only in batch 2
    val batch1 = Seq((1L, 100L, 1L), (1L, 250L, 1L), (2L, 40L, 1L))
    val batch2 = Seq((1L, 600L, 1L), (9L, 7L, 1L))

    val out = scratch("graft-agg")
    val ckpt = scratch("graft-agg-c")
    val ms = MemoryStream[(Long, Long, Long)]
    val q = SketchStreams.streamingAggMaintain(
      ms.toDF().toDF("k", "rev_c", "n_orders"),
      Seq("k"), Seq("rev_c", "n_orders"), out, ckpt)
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = SketchStreams.latestAgg(spark, out)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === Set((1L, 950L, 3L), (2L, 40L, 1L), (9L, 7L, 1L)))
    // ≡ one-shot aggregate of everything seen (sum associativity)
    val oneShot = (batch1 ++ batch2).toDF("k", "rev_c", "n_orders")
      .groupBy($"k")
      .agg(org.apache.spark.sql.functions.sum($"rev_c").as("rev_c"),
        org.apache.spark.sql.functions.sum($"n_orders").as("n_orders"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === oneShot)
  }

  test("streamed NB model maintenance over three micro-batches equals a " +
    "one-shot train: merged counts AND the score matrix over a probe set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, "alpha beta beta", "news"), (2L, "gamma alpha", "spam"))
    val b2 = Seq((3L, "beta beta gamma", "news"), (4L, "delta", "spam"))
    val b3 = Seq((5L, "alpha delta delta gamma", "news"))
    val all = b1 ++ b2 ++ b3

    val out = scratch("graft-nbm")
    val ckpt = scratch("graft-nbm-c")
    val ms = MemoryStream[(Long, String, String)]
    val q = SketchStreams.streamingNbModel(
      ms.toDF().toDF("doc_id", "text", "source"), "text", "source",
      out, ckpt)
    Seq(b1, b2, b3).foreach { b =>
      ms.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    // both table families have one complete epoch per batch
    val files = new java.io.File(out).list()
    assert(files.count(_.startsWith("nbm_")) === 3)
    assert(files.count(_.startsWith("nbc_")) === 3)

    // merged state ≡ one-shot training counts
    val (sm, sc) = SketchStreams.latestNbModel(spark, out)
    val (bm, bc) = graft.text.Relevance.nbModelCounts(
      all.toDF("doc_id", "text", "source"), "text", "source")
    assert(sm.as[(String, String, Long)].collect().toSet ===
      bm.as[(String, String, Long)].collect().toSet)
    assert(sc.as[(String, Long)].collect().toSet ===
      bc.as[(String, Long)].collect().toSet)

    // scoring a probe set against the MAINTAINED model ≡ the one-shot path
    val probe = all.toDF("doc_id", "text", "source")
    val streamedScores = graft.text.Relevance.nbScoreMatrixFromModel(
      sm, sc, probe, "doc_id", "text", "source")
      .as[(Long, String, String, Long)].collect().toSet
    val oneShot = graft.text.Relevance.nbScoreMatrix(
      probe, "doc_id", "text", "source")
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamedScores === oneShot)
    // sanity: every (doc, class) cell scored
    assert(streamedScores.size === all.size * 2)
    assert(streamedScores.forall { case (_, cl, _, _) =>
      Set("news", "spam")(cl) })
  }
}
