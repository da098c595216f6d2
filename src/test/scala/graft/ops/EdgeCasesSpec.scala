package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dedup.Dedup

/** Degenerate-input behavior: empty frames, singleton groups, dirty
  * mapping tables — the edges the oracle queries never reach. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private val emptyKV = Seq.empty[(String, Double, Long)].toDF("k", "score", "id")

  test("keepBestPerKey / undirectedDedup on empty input stay empty") {
    assert(Kernels.keepBestPerKey(emptyKV, Seq("k"), Seq(col("score").desc))
      .count() === 0)
    val emptyPairs = Seq.empty[(String, String, Double)].toDF("a", "b", "score")
    assert(Kernels.undirectedDedup(emptyPairs, "a", "b", Seq(col("score").desc))
      .count() === 0)
  }

  test("outerMergeChain with an empty side keeps the other side's rows") {
    val a = Seq(("k1", "va", "s1")).toDF("k", "value", "source")
    val b = Seq.empty[(String, String, String)].toDF("k", "value", "source")
    val got = Kernels.outerMergeChain(Seq(a, b), Seq("k"), pipeCols = Set("source"))
      .as[(String, String, String)].collect()
    assert(got.toSeq === Seq(("k1", "s1", "va")))
    val got2 = Kernels.outerMergeChain(Seq(b, a), Seq("k"), pipeCols = Set("source"))
      .as[(String, String, String)].collect()
    assert(got2.toSeq === Seq(("k1", "s1", "va")))
  }

  test("fallbackMap tolerates duplicate keys in a mapping table (no fan-out)") {
    val df = Seq(("x", 1)).toDF("id", "key")
    val dirty = Seq((1, "B"), (1, "A")).toDF("from_id", "to_id")
    val got = Kernels.fallbackMap(df, col("key"), Seq(dirty))
      .select("id", "resolved").as[(String, String)].collect()
    assert(got.toSeq === Seq(("x", "A"))) // one row, min to_id
  }

  test("dedup modules on empty / single-doc inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactGroups(empty, "doc_id", "text").count() === 0)
    assert(Dedup.ngramJaccardPairs(empty, "doc_id", "text").count() === 0)
    val single = Seq((1L, "just one document here okay")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(single, "doc_id", "text").count() === 0)
    assert(Dedup.minhashLshPairs(single, "doc_id", "text").count() === 0)
    assert(Dedup.simhashNearDupPairs(single, "doc_id", "text").count() === 0)
  }

  test("aggregation kernels on singleton groups") {
    val df = Seq(("k", 5.0)).toDF("k", "v")
    val got = df.groupBy($"k").agg(
      Kernels.median3($"v").as("med"),
      Kernels.orderedMiddle($"v").as("mid"),
      Kernels.conflictFold($"v".cast("string")).as("cf"))
      .as[(String, Double, Double, String)].collect().head
    assert(got === (("k", 5.0, 5.0, "5.0")))
  }

  test("capped dedup and LSH near-dup on empty / degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(empty, "doc_id", "text",
      maxShingleDf = 5).count() === 0)
    val one = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupPairs(one, "vec_id", "embedding", 0.5,
      planes = 4, dim = 2).count() === 0)
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupPairs(emptyVecs, "vec_id", "embedding", 0.5,
      planes = 4, dim = 2).count() === 0)
  }

  test("TrainPrep on empty and whitespace-only text") {
    import graft.text.TrainPrep
    val docs = Seq((1L, ""), (2L, "   "), (3L, "a b c")).toDF("doc_id", "text")
    val packed = TrainPrep.sequentialPack(docs, lit(0), "doc_id",
      graft.text.TextFns.tokenCount($"text").cast("long"), budget = 2)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(packed.keySet === Set(1L, 2L, 3L))
    val (scrubbed, emails, phones) = TrainPrep.scrubPii($"text")
    val got = docs.select(scrubbed.as("s"), emails.as("e"), phones.as("p"))
      .as[(String, Long, Long)].collect()
    assert(got.forall(r => r._2 == 0 && r._3 == 0))
  }

  test("bm25Scores: empty corpus is empty; single-doc corpus scores " +
    "itself against its own top terms") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.text.Relevance.bm25Scores(empty, "doc_id", "text").count() === 0)
    val one = Seq((7L, "alpha alpha beta")).toDF("doc_id", "text")
    val got = graft.text.Relevance.bm25Scores(one, "doc_id", "text", qTerms = 3)
      .as[(Long, Long, Long)].collect()
    // N=1, L=3, df=1 for both terms: idf_micro = ⌊ln(4/3)·1e6⌋ = 287682 ≥ 0
    assert(got.length === 1 && got.head._1 === 7L && got.head._2 === 2L)
    assert(got.head._3 > 0L)
  }

  test("effectMergePair: unknown-only pair resolves to unknown") {
    val df = Seq((Option("Unknown"), Option("Unknown"))).toDF("x", "y")
    val got = df.select(Kernels.effectMergePair($"x", $"y")).as[String].collect()
    assert(got.toSeq === Seq("Unknown"))
  }

  test("exactGroups on a planted million-row group stays row-per-member") {
    // One boilerplate fingerprint shared by 1M docs: the summary must stay
    // one bounded row (no concatenated id roster), membership one row per
    // doc — nothing accumulates per-group state in a single cell.
    val docs = spark.range(1000000)
      .select($"id".as("doc_id"), lit("shared boiler plate text").as("text"))
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("n_docs") === 1000000L)
    assert(groups.head.getAs[Long]("keep_id") === 0L)
    assert(Dedup.exactMembership(docs, "doc_id", "text").count() === 1000000L)
  }

  test("crossSnapshotNearDups with an empty incoming batch or empty corpus " +
    "yields no pairs") {
    val docs = Seq((2L, "the quick brown fox jumps over it")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.crossSnapshotNearDups(docs, none, "doc_id", "text").count() === 0)
    assert(Dedup.crossSnapshotNearDups(none, docs, "doc_id", "text").count() === 0)
  }

  test("keepBest on empty clusters is empty; singleton cluster keeps itself") {
    val noClusters = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val noQuality = Seq.empty[(Long, Double)].toDF("doc_id", "quality")
    assert(Dedup.keepBest(noClusters, noQuality).count() === 0)
    val one = Seq((5L, 5L)).toDF("doc_id", "cluster_id")
    val q = Seq((5L, 0.7)).toDF("doc_id", "quality")
    val got = Dedup.keepBest(one, q).as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq((5L, 5L, 1L, 0.7)))
  }

  test("Bpe.tokenCounts: empty corpus is empty; a corpus with NO learnable " +
    "pairs tokenizes to characters (empty merge table = identity)") {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.text.Bpe.tokenCounts(none, "doc_id", "text").count() === 0)
    // every word single-char → zero adjacent pairs → both merge rounds are
    // empty; each word must still tokenize to its characters, not vanish
    val singles = Seq((1L, "a b c")).toDF("doc_id", "text")
    val got = graft.text.Bpe.tokenCounts(singles, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 3L, 3L)))
  }

  test("bloomProbe against an EMPTY staged corpus: nothing hits") {
    val incoming = Seq((1L, "some words here")).toDF("doc_id", "text")
    val empty = incoming.filter(lit(false))
    val got = Dedup.bloomProbe(incoming, empty, "doc_id", "text")
      .as[(Long, Boolean, Boolean)].collect()
    assert(got.toSeq === Seq((1L, false, false)))
  }

  test("weightedSampleTopK / budgetSelect survive empty input") {
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "lang", "w")
    assert(graft.text.TrainPrep
      .weightedSampleTopK(empty, "doc_id", "lang", "w", 5).count() === 0)
    assert(graft.text.TrainPrep
      .budgetSelect(empty, "lang", "w", "doc_id", "w", 100).count() === 0)
  }

  test("containmentPairs: no pair when one side has no shingles") {
    val d = Seq((1L, "only two"), (2L, "a longer document with many words in it"))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPairs(d, "doc_id", "text", 3, 0.0).count() === 0)
  }

  test("semanticContamination with an EMPTY benchmark set reports every " +
    "vector clean (null max_cos), never an empty frame") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.sim.Similarity.semanticContamination(
      emb, "vec_id", "embedding", lit(false), threshold = 0.5)
      .select($"vec_id", $"max_cos".isNull.as("no_score"), $"contaminated")
      .as[(Long, Boolean, Boolean)].collect().toSet
    assert(got === Set((1L, true, false), (2L, true, false)))
  }

  test("intraDocSegmentDedup: doc shorter than one segment is kept whole; " +
    "empty corpus stays empty") {
    val short = Seq((1L, "just three words")).toDF("doc_id", "text")
    val got = Dedup.intraDocSegmentDedup(short, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq((1L, 1L, 1L, "just three words")))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.intraDocSegmentDedup(empty, "doc_id", "text").count() === 0)
  }

  test("skewProfile: k larger than the key domain returns every key") {
    val got = graft.ops.Scale.skewProfile(
      Seq("a", "a", "b").toDF("k"), "k", k = 10)
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("a", 2L, 666666L), ("b", 1L, 333333L)))
  }

  test("segmentDedup / ER / BPE / collocations / quantiles on empty input") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.segmentDedup(docs, "doc_id", "text").count() === 0)
    assert(EntityResolution.blockedNameMatch(docs.toDF("doc_id", "name"),
      "name", n => n, 4).count() === 0)
    assert(graft.text.Bpe.topMerges(docs, "doc_id", "text").count() === 0)
    assert(graft.text.Relevance.pmiCollocations(docs, "doc_id", "text")
      .count() === 0)
    assert(graft.text.Sketches.histogramQuantiles(
      Seq.empty[Long].toDF("v"), "v").count() === 0)
  }

  test("prefixFilterJoin: empty corpus and shingle-less docs yield no pairs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.prefixFilterJoin(empty, "doc_id", "text").count() === 0)
    val short = Seq((1L, "only two"), (2L, "only two")).toDF("doc_id", "text")
    // docs under the shingle width have no set to compare — no pairs,
    // not a crash (sequence/ceil edge arithmetic)
    assert(Dedup.prefixFilterJoin(short, "doc_id", "text").count() === 0)
  }

  test("event analytics on an empty event stream stay empty") {
    import graft.streaming.EventStreams
    val e = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(EventStreams.rollingStats(e).count() === 0)
    assert(EventStreams.retentionCohorts(e).count() === 0)
    assert(EventStreams.activityStreaks(e).count() === 0)
    assert(EventStreams.eventTransitions(e).count() === 0)
    assert(EventStreams.scd2Intervals(e).count() === 0)
  }

  test("asOfJoinForward: left kept with null payload when right is empty") {
    val left = Seq((1L, new java.sql.Timestamp(5000L), "p")).toDF("k", "t", "lv")
    val right = Seq.empty[(Long, java.sql.Timestamp, String)].toDF("k", "t", "rv")
    val got = TemporalJoins.asOfJoinForward(left, right, "k", "t")
      .select("lv", "rv").as[(String, Option[String])].collect()
    assert(got.toSeq === Seq(("p", None)))
  }

  test("hardNegatives: all-same-label corpus mines nothing; " +
    "randomProjection of an empty frame is empty") {
    val same = Seq(
      (1L, Array(1f, 0f), 7), (2L, Array(0f, 1f), 7)
    ).toDF("vec_id", "embedding", "label")
    assert(graft.sim.Similarity
      .hardNegatives(same, "vec_id", "embedding", "label", k = 3)
      .count() === 0)
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.sim.Similarity
      .randomProjection(emptyEmb, "vec_id", "embedding", inDim = 2, outDim = 4)
      .count() === 0)
  }

  test("upsertPartitioned with an EMPTY update batch leaves the base " +
    "untouched (empty touched-partition set)") {
    val baseDir = scratch("graft-up-empty")
    val stage = scratch("graft-up-empty-s")
    val base = Seq((1L, "one", "A", 0L, false))
      .toDF("k", "payload", "p", "version", "del")
    base.write.mode("overwrite").partitionBy("p").parquet(baseDir)
    val empty = Seq.empty[(Long, String, String, Long, Boolean)]
      .toDF("k", "payload", "p", "version", "del")
    graft.sources.Sinks.upsertPartitioned(spark, baseDir, empty,
      "p", Seq("k"), "version", "del", stage)
    val fin = spark.read.parquet(baseDir)
      .select("k", "payload").as[(Long, String)].collect().toSeq
    assert(fin === Seq((1L, "one")))
  }

  test("intervalOverlapJoin with an empty right side is empty") {
    val left = Seq((1L, "2020-01-01", "2020-01-05")).toDF("lid", "ls", "le")
      .select(col("lid"), to_date(col("ls")).as("ls"), to_date(col("le")).as("le"))
    val right = Seq.empty[(Long, String, String)].toDF("rid", "rs", "re")
      .select(col("rid"), to_date(col("rs")).as("rs"), to_date(col("re")).as("re"))
    assert(TemporalJoins
      .intervalOverlapJoin(left, right, "ls", "le", "rs", "re", 16)
      .count() === 0)
  }

  test("exactSubstrTrim: empty corpus empty; a corpus of ONE doc trims " +
    "nothing (cross-doc df can never reach 2)") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactSubstrTrim(empty, "doc_id", "text").count() === 0)
    val one = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val got = Dedup.exactSubstrTrim(one, "doc_id", "text")
      .as[(Long, Long, Long, Long, Option[String])].collect().head
    assert(got === ((1L, 10L, 0L, 0L, Some("a b c d e f g h i j"))))
  }

  test("naiveBayesClassify: a single-class corpus predicts that class " +
    "everywhere, all correct") {
    val d = Seq((1L, "apple banana", "only"), (2L, "cherry date", "only"))
      .toDF("doc_id", "text", "source")
    val got = graft.text.Relevance
      .naiveBayesClassify(d, "doc_id", "text", "source")
      .as[(Long, String, Long, String, Boolean)].collect()
    assert(got.length === 2)
    assert(got.forall(r => r._2 == "only" && r._5))
  }

  test("classifierEval on empty predictions is empty; kCore on an empty " +
    "edge set is empty") {
    val empty = Seq.empty[(String, String)].toDF("actual", "predicted")
    assert(graft.text.Relevance.classifierEval(empty, "actual", "predicted")
      .count() === 0)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.graph.GraphOps.kCore(noEdges, k = 2).count() === 0)
  }

  test("clusterSplit with an EMPTY cluster table splits every doc " +
    "singleton (= hashSplit on the id) and never drops rows") {
    import graft.text.TrainPrep
    val docs = spark.range(0, 100).toDF("doc_id")
    val noClusters = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val got = TrainPrep.clusterSplit(docs, "doc_id", noClusters)
    assert(got.count() === 100)
    assert(got.filter(col("cluster_id") =!= col("doc_id")).count() === 0)
    val perDoc = docs.select(col("doc_id"),
      TrainPrep.hashSplit(docs, "doc_id").as("expect"))
    assert(got.join(perDoc, Seq("doc_id"))
      .filter(col("split") =!= col("expect")).count() === 0)
  }

  test("kmvSetOps: a single group yields no pairs; kmvSketch on empty " +
    "input is empty") {
    import graft.text.Sketches
    val one = Seq(("only", "a b c")).toDF("src", "text")
    assert(Sketches.kmvSetOps(one, "text", "src").count() === 0)
    val empty = Seq.empty[(String, String)].toDF("src", "text")
    assert(Sketches.kmvSketch(empty, "text", "src").count() === 0)
  }

  test("canonicalizeUrl: no query, no path, bare authority all survive") {
    import graft.text.TextFns
    val got = Seq(
      "https://A.com/p",          // no query
      "https://A.com",            // no path at all
      "HTTP://WWW.B.com/#frag"    // fragment only
    ).toDF("url").select(TextFns.canonicalizeUrl(col("url")))
      .collect().map(_.getString(0))
    assert(got === Array("https://a.com/p", "https://a.com", "http://b.com"))
  }

  test("binaryTopK on fewer vectors than k: no phantom rows, no crash, " +
    "contiguous ranks; near-identical codes always pair (banded stage 1)") {
    import graft.sim.Similarity
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.binaryTopK(emb, "vec_id", "embedding",
      k = 5, oversample = 2, inDim = 2, bits = 8)
      .as[(Long, Long, Long, Double)].collect()
    // ≤2 possible neighbors per query; banding may drop far pairs (the
    // documented recall dial) but can never invent rows or skip ranks
    assert(got.length <= 6)
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length.toLong))
    }
    // 1 and 2 are near-identical → codes agree on ~every bit → candidates
    assert(got.exists(r => r._1 == 1L && r._3 == 2L))
    assert(got.exists(r => r._1 == 2L && r._3 == 1L))
  }

  test("DataQuality.profile on an all-null column reports 0 distinct " +
    "and null min/max") {
    val df = spark.range(0, 10).toDF("id")
      .withColumn("dead", lit(null).cast("string"))
    val r = graft.ops.DataQuality.profile(df, Seq("dead")).head()
    assert(r.getLong(1) === 10L && r.getLong(2) === 10L) // rows, nulls
    assert(r.getLong(3) === 0L)                          // distinct
    assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6))
  }

  test("ohlcBars on empty events is empty") {
    val e = Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
      .toDF("event_id", "ts", "user_id", "value")
    assert(graft.streaming.EventStreams.ohlcBars(e).count() === 0)
  }

  test("asOfJoinNearest with an empty right side keeps every left row " +
    "with null payload; decayScore on empty events is empty") {
    val ts0 = new java.sql.Timestamp(1000L)
    val left = Seq((1L, ts0, "p")).toDF("k", "t", "lv")
    val right = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("k", "t", "rv")
    val got = TemporalJoins.asOfJoinNearest(left, right, "k", "t")
      .select("lv", "rv").as[(String, String)].collect()
    assert(got.toSeq === Seq(("p", null)))
    val e = Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
      .toDF("event_id", "ts", "user_id", "value")
    assert(graft.streaming.EventStreams.decayScore(e).count() === 0)
  }

  test("psiDrift: identical snapshots give zero PSI in every bin; a bin " +
    "present on one side only still smooths to a finite contribution") {
    val same = Seq((0, 1L), (1, 1L), (0, 2L), (1, 2L)).toDF("snap", "bin")
    val r = graft.ops.DataQuality.psiDrift(same)
      .select("psi_pico").as[Long].collect()
    assert(r.forall(_ === 0L), r.mkString(","))
    val skew = Seq((0, 1L), (1, 2L)).toDF("snap", "bin")
    val rows = graft.ops.DataQuality.psiDrift(skew)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 2)
    assert(rows.forall(t => t._6 != 0L)) // lr_micro finite and nonzero
  }

  test("exactCorrelation: a constant column has var_num 0 and cov_num 0") {
    val df = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("c", "x")
    val r = graft.ops.DataQuality.exactCorrelation(df, Seq("c", "x"))
      .head()
    assert(r.getAs[String]("cov_num") === "0")
    assert(r.getAs[String]("var_num_x") === "0")
    assert(r.getAs[String]("var_num_y") !== "0")
  }

  test("kAnonymity/lDiversity on empty input are empty; a singleton " +
    "group is at risk and not diverse") {
    val empty = Seq.empty[(Int, String)].toDF("qi", "s")
    assert(graft.ops.DataQuality.kAnonymity(empty, Seq("qi"), 5)
      .count() === 0)
    assert(graft.ops.DataQuality.lDiversity(empty, Seq("qi"), col("s"), 2)
      .count() === 0)
    val one = Seq((1, "x")).toDF("qi", "s")
    val ka = graft.ops.DataQuality.kAnonymity(one, Seq("qi"), 5).head()
    assert(ka.getAs[Boolean]("at_risk"))
    val ld = graft.ops.DataQuality.lDiversity(one, Seq("qi"), col("s"), 2)
      .head()
    assert(!ld.getAs[Boolean]("diverse"))
  }

  test("weightedSssp with empty edges returns just the sources at 0; " +
    "contrastiveTriplets with no near-dup pairs is empty") {
    val edges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val src = Seq(Tuple1(7L)).toDF("node")
    val got = graft.graph.GraphOps.weightedSssp(edges, src, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(7L -> 0L))
    // all-distinct docs: LSH finds no pairs, so no anchors to mine
    val docs = (1 to 8)
      .map(i => (i.toLong, s"totally unique text number $i with tail $i$i"))
      .toDF("doc_id", "text")
    assert(Dedup.contrastiveTriplets(docs, "doc_id", "text").count() === 0)
  }

  test("mergeAggState with an empty delta is the identity on the state") {
    val base = Seq((1L, 10L), (2L, 5L)).toDF("k", "s")
    val delta = Seq.empty[(Long, Long)].toDF("k", "s")
    val got = graft.sources.Sinks.mergeAggState(base, delta, Seq("k"), Seq("s"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 10L, 2L -> 5L))
  }

  test("bootstrapMeanCi: constant column degenerates to a zero-width CI " +
    "at the point estimate; varying column brackets the point") {
    val const = spark.range(200).toDF("id").withColumn("v", lit(7L))
    val c = DataQuality.bootstrapMeanCi(const, "id", "v", seed = "t", b = 40)
      .as[(Long, Long, Long, Long)].head()
    assert(c === ((7000L, 7000L, 7000L, 40L)))
    val varied = spark.range(500).toDF("id")
      .withColumn("v", col("id") % 100)
    val g = DataQuality.bootstrapMeanCi(varied, "id", "v", seed = "t", b = 40)
      .as[(Long, Long, Long, Long)].head()
    assert(g._2 <= g._1 && g._1 <= g._3,
      s"CI [${g._2}, ${g._3}] must bracket point ${g._1}")
    assert(g._2 < g._3, "varying data must give a non-degenerate CI")
  }

  test("kCenterGreedy with k > corpus: exhausted rounds re-pick the min id " +
    "at radius 0 (the documented exhaustion signal)") {
    def v(hot: Int): Seq[Float] =
      (0 until 64).map(i => if (i == hot) 1.0f else 0.0f)
    val tiny = Seq((5L, v(0)), (9L, v(1))).toDF("vec_id", "embedding")
    val got = graft.sim.Similarity
      .kCenterGreedy(tiny, "vec_id", "embedding", k = 4)
      .orderBy("sel_rank")
      .as[(Long, Long, Option[Double])].collect()
    assert(got.map(r => (r._1, r._2)).toSeq ===
      Seq((1L, 5L), (2L, 9L), (3L, 5L), (4L, 5L)))
    assert(got(1)._3 === Some(2.0)) // orthogonal unit vectors: L2² = 2
    assert(got.drop(2).forall(_._3 === Some(0.0)))
  }

  test("rrfFuse with one empty side degrades to the other ranker's " +
    "order; both empty yields empty") {
    val a = Seq((1L, 1L, 10L), (1L, 2L, 20L)).toDF("vec_id", "rank", "neighbor")
    val none = Seq.empty[(Long, Long, Long)].toDF("vec_id", "rank", "neighbor")
    val got = graft.sim.Similarity.rrfFuse(a, none, k = 5)
      .orderBy(col("rank")).as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._3).toSeq === Seq(10L, 20L))
    assert(graft.sim.Similarity.rrfFuse(none, none, k = 5).count() === 0)
  }

  test("conformalCoverage: all-calibration input (no test rows) and " +
    "empty input both yield empty output") {
    val allCal = Seq(("g", 2L, 1.0), ("g", 4L, 2.0), ("g", 6L, 3.0),
      ("g", 8L, 1.5), ("g", 10L, 2.5), ("g", 12L, 0.5), ("g", 14L, 1.2),
      ("g", 16L, 2.2), ("g", 18L, 3.2), ("g", 20L, 0.2))
      .toDF("grp", "id", "value")
    assert(DataQuality.conformalCoverage(allCal, "grp", col("value"),
      col("id") % 2 === 0).count() === 0)
    val empty = Seq.empty[(String, Long, Double)].toDF("grp", "id", "value")
    assert(DataQuality.conformalCoverage(empty, "grp", col("value"),
      col("id") % 2 === 0).count() === 0)
  }

  test("isotonicBinsPpm: single bin is its own (floored) rate; empty " +
    "bin table stays empty") {
    val one = Seq((0L, 3L, 2L)).toDF("bin", "n", "pos")
    val got = DataQuality.isotonicBinsPpm(one)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq((0L, 3L, 2L, 666666L)))
    val empty = Seq.empty[(Long, Long, Long)].toDF("bin", "n", "pos")
    assert(DataQuality.isotonicBinsPpm(empty).count() === 0)
  }

  test("mortonInterleave rejects out-of-range bit widths; bit 31 " +
    "boundary round-trips") {
    intercept[IllegalArgumentException] {
      Scale.mortonInterleave(col("x"), col("y"), 0)
    }
    intercept[IllegalArgumentException] {
      Scale.mortonInterleave(col("x"), col("y"), 32)
    }
    val m = Seq(((1L << 30), 0L)).toDF("x", "y")
      .select(Scale.mortonInterleave(col("x"), col("y"), 31).as("z"))
      .as[Long].head()
    assert(m === (1L << 60))
  }
}
