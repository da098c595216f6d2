package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Training-order mechanics: global shuffle + shard assignment, weighted
  * source interleave, and the shard sink's on-disk layout. */
class TrainOrderSpec extends SparkSpec {
  import spark.implicits._

  private val docs = spark.range(0, 1000).toDF("doc_id")
    .withColumn("source", concat(lit("src"), col("doc_id") % 7))

  test("shardAssign: pos is a permutation of 1..n and shards balance to ±1") {
    val out = TrainPrep.shardAssign(docs, "doc_id", nShards = 16).cache()
    val positions = out.select("pos").as[Long].collect().sorted
    assert(positions.toSeq == (1L to 1000L))
    val sizes = out.groupBy("shard").count().select("count").as[Long].collect()
    assert(sizes.length == 16)
    assert(sizes.max - sizes.min <= 1)
    // round-robin: shard/pos_in_shard reconstruct pos exactly
    val bad = out.filter(
      col("pos") =!= (col("pos_in_shard") - 1) * 16 + col("shard") + 1)
    assert(bad.isEmpty)
    out.unpersist()
  }

  test("shardAssign: order is content-derived — stable under repartitioning") {
    val a = TrainPrep.shardAssign(docs, "doc_id", 16)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    val b = TrainPrep.shardAssign(docs.repartition(13), "doc_id", 16)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("interleaveOrder: a weight-4 source runs ~4x as often as weight-1 at every prefix") {
    // two sources, 400 docs each, weights 4 and 1
    val two = spark.range(0, 800).toDF("doc_id")
      .withColumn("source", when(col("doc_id") < 400, "a").otherwise("b"))
    val w = when(col("source") === "a", 4).otherwise(1)
    val out = TrainPrep.interleaveOrder(two, "doc_id", "source", w)
      .select("pos", "source").as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (1L to 800L))
    // prefix ratio: after any 50-multiple prefix while both streams are
    // live, the weight-4 source holds 80% ± one scheduling quantum
    for (p <- Seq(50, 100, 200, 300, 400, 500)) {
      val nA = out.take(p).count(_._2 == "a")
      if (p <= 495) { // a exhausts at vt=10^8 (rn=400) ≈ global pos 500
        assert(math.abs(nA - 0.8 * p) <= 4.0, s"prefix $p: nA=$nA")
      }
    }
    // once the heavy source is exhausted the tail is all-b
    assert(out.drop(520).forall(_._2 == "b"))
  }

  test("interleaveOrder: agrees with a single-node replay of the WFQ order") {
    val small = spark.range(0, 90).toDF("doc_id")
      .withColumn("source", concat(lit("s"), col("doc_id") % 3))
    val w = (col("doc_id") % lit(3)).cast("int") + 1 // s0→1, s1→2, s2→3
    val got = TrainPrep.interleaveOrder(small, "doc_id", "source", w)
      .select("doc_id", "source", "rn", "vt", "pos")
      .as[(Long, String, Long, Long, Long)].collect()
    // local replay from the same (vt, source, rn) sort keys
    val expectPos = got.sortBy(r => (r._4, r._2, r._3)).zipWithIndex
      .map { case (r, i) => r._1 -> (i + 1L) }.toMap
    got.foreach(r => assert(r._5 == expectPos(r._1), s"doc ${r._1}"))
  }

  test("writeShards: partitioned layout, in-file pos_in_shard order, lossless replay") {
    val dir = scratch("graft-shards")
    val sharded = TrainPrep.shardAssign(docs, "doc_id", nShards = 8)
    TrainPrep.writeShards(sharded, dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.toSeq == (0 until 8).map(i => s"shard=$i").sorted)
    // per-file order: rows come back in pos_in_shard order within each file
    for (sd <- 0 until 8) {
      val files = new java.io.File(s"$dir/shard=$sd").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      for (f <- files) {
        val ps = spark.read.parquet(f.getPath)
          .select("pos_in_shard").as[Long].collect()
        assert(ps.sameElements(ps.sorted), s"unsorted file in shard=$sd")
      }
    }
    // lossless: reading the tree back replays the full assignment
    val back = spark.read.parquet(dir)
      .select(col("doc_id"), col("pos"), col("shard").cast("long"))
    val orig = sharded.select(col("doc_id"), col("pos"), col("shard"))
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("clusterSplit: cluster members share a split, singletons fall back " +
    "to per-id hashing, and the assignment matches hashSplit on the key") {
    val corpus = spark.range(0, 300).toDF("doc_id")
    // docs 0..99 pair up into 50 two-doc clusters; 100.. are unclustered
    val clusters = spark.range(0, 100).toDF("doc_id")
      .withColumn("cluster_id", col("doc_id") % 50)
    val got = TrainPrep.clusterSplit(corpus, "doc_id", clusters)
    // every cluster resolves to exactly one split value
    val multi = got.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(multi === 0L)
    // singleton fallback: cluster_id = doc_id for unclustered docs
    assert(got.filter(col("doc_id") >= 100 &&
      col("cluster_id") =!= col("doc_id")).count() === 0L)
    // the split is hashSplit of the cluster key (same salt and cuts), so
    // cross-granularity invariant: a doc whose cluster_id = its own id
    // gets exactly its per-doc split
    val single = got.filter(col("doc_id") >= 100)
      .withColumn("expect", TrainPrep.hashSplit(corpus, "cluster_id"))
    assert(single.filter(col("split") =!= col("expect")).count() === 0L)
    // all three splits appear with roughly the configured mass
    val byName = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("train") > 200 && byName.size === 3)
  }

  test("winsorize refuses a continuous DOUBLE column (bounded-domain guard)") {
    // the partitionless distinct-value window is whitelisted ONLY for
    // integral domains — a double column must fail loudly, not straggle
    val dd = docs.withColumn("score", col("doc_id") / 3.0)
    val ex = intercept[IllegalArgumentException] {
      TrainPrep.winsorize(dd, "score")
    }
    assert(ex.getMessage.contains("histogramBins"))
    // integral input still works and clips both tails
    val ok = TrainPrep.winsorize(docs, "doc_id")
    assert(ok.filter(col("was_clipped")).count() > 0)
    assert(ok.agg(max(col("clamped"))).as[Long].head() < 999L)
  }

  test("Sketches.quantileRanksFromBins refuses a DOUBLE bin ordinal") {
    val bins = Seq((0.5, 10L), (1.5, 20L)).toDF("bin", "cnt")
    val ex = intercept[IllegalArgumentException] {
      Sketches.quantileRanksFromBins(bins, Seq(0.5))
    }
    assert(ex.getMessage.contains("histogramBins"))
  }
}
