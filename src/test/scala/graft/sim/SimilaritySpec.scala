package graft.sim

import graft.SparkSpec
import graft.core.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bruteForceTopK: k rows per vector, rank ordered by cosine desc") {
    val got = Similarity.bruteForceTopK(
      Tables.embeddings(spark, sf).limit(50), "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect()
    val byVec = got.groupBy(_._1)
    assert(byVec.forall(_._2.length == 3))
    byVec.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4).sliding(2).forall(p => p.head >= p.last - 1e-12))
    }
    // cosine of unit-ish random vectors stays in [-1, 1]
    assert(got.forall(r => r._4 <= 1.0 + 1e-9 && r._4 >= -1.0 - 1e-9))
  }

  test("filteredTopK: neighbors all satisfy the predicate, queries do not " +
    "lose rows, and scores match the brute-force answer on the filtered side") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf).limit(60)
    val got = Similarity.filteredTopK(emb, "vec_id", "embedding",
      col("label") === 1, k = 3)
      .as[(Long, Long, Long, Double)].collect()
    val label1 = emb.filter(col("label") === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(label1.size >= 4, "fixture must have enough label-1 vectors")
    // every emitted neighbor qualifies; every vector got its k (enough
    // qualifying neighbors exist even for label-1 queries themselves)
    assert(got.forall(r => label1.contains(r._3)))
    val nQueries = emb.count()
    assert(got.length == nQueries * 3)
    // equivalent formulation: brute-force over ALL pairs, then keep
    // qualifying neighbors and re-rank — must agree on the top-3
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      k = 60).as[(Long, Long, Long, Double)].collect().toSeq
      .filter(r => label1.contains(r._3))
      .groupBy(_._1).toSeq.flatMap { case (v, rs) =>
        rs.sortBy(r => (-r._4, r._3)).take(3).zipWithIndex
          .map { case (r, i) => (v, i + 1L, r._3, r._4) }
      }.toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSet === brute)
  }

  test("semanticContamination flags exactly the vectors near a benchmark " +
    "vector, and benchmark rows never appear in the report") {
    import org.apache.spark.sql.functions.col
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // benchmark
      (1L, Array(2.0f, 0.0f)),   // same direction → cos 1 → contaminated
      (2L, Array(0.0f, 1.0f)),   // orthogonal → cos 0 → clean
      (3L, Array(-1.0f, 0.0f)),  // opposite → cos -1 → clean
      (4L, Array(1.0f, 1.0f))    // cos √2/2 ≈ 0.707 → contaminated at 0.5
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(emb, "vec_id", "embedding",
      col("vec_id") === 0L, threshold = 0.5)
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
  }

  test("aggTopKFromPairs is bit-identical to the window form") {
    import org.apache.spark.sql.functions._
    // deterministic pair stream with planted score ties (same cos for two
    // neighbors of vec 1) so the id tie-break is actually exercised
    val pairs = (1L to 40L).flatMap { v =>
      (1L to 40L).filter(_ != v).map { n =>
        val cos = ((v * 31 + n * 17) % 97).toDouble / 97.0
        (v, n, cos)
      }
    }.toDF("vec_id", "neighbor", "cos")
    val win = Similarity.topKFromPairs(pairs, 5)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val agg = Similarity.aggTopKFromPairs(pairs, 5)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(agg.toSeq === win.toSeq)
  }

  test("aggTopKFromPairs handles groups smaller than k") {
    import org.apache.spark.sql.functions._
    val pairs = Seq((1L, 2L, 0.5), (1L, 3L, 0.9), (2L, 1L, 0.1))
      .toDF("vec_id", "neighbor", "cos")
    val got = Similarity.aggTopKFromPairs(pairs, 5)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq((1L, 1L, 3L, 0.9), (1L, 2L, 2L, 0.5),
      (2L, 1L, 1L, 0.1)))
  }

  test("hyperplanes are deterministic across calls") {
    assert(Similarity.hyperplanes(4, 16) === Similarity.hyperplanes(4, 16))
  }

  test("lshTopK returns same-bucket neighbors with exact cosines") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 5)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._3), r._4)).toMap
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", 5, planes = 4)
      .as[(Long, Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    // every LSH cosine equals the brute-force cosine for that pair
    lsh.foreach { r =>
      brute.get((r._1, r._3)).foreach(c => assert(math.abs(c - r._4) < 1e-12))
    }
    // with 4 planes (16 buckets over 500 vecs) recall@5 is substantial
    val bruteTop = brute.keySet
    val recall = lsh.count(r => bruteTop.contains((r._1, r._3))).toDouble /
      bruteTop.size
    assert(recall > 0.05, s"recall@5 $recall suspiciously low")
  }

  test("multi-probe LSH strictly improves recall over single-probe") {
    val emb = Tables.embeddings(spark, sf)
    val bruteTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 5)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._3)).toSet
    def recall(probes: Int) = {
      val got = Similarity.lshTopK(emb, "vec_id", "embedding", 5,
        planes = 4, probes = probes)
        .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._3)).toSet
      got.count(bruteTop.contains).toDouble / bruteTop.size
    }
    val r0 = recall(0)
    val r1 = recall(1)
    assert(r1 >= r0, s"multi-probe recall $r1 < single-probe $r0")
    assert(r1 > r0 + 0.05, s"multi-probe gained too little: $r0 -> $r1")
  }

  test("lshTopK plans the candidate stage as a bucket EQUI-join — no " +
    "nested-loop, no cartesian (the x_knn_graph_lsh no-O(n²) pin)") {
    // the final CC stage of x_knn_graph_lsh runs through GraphX (an RDD
    // boundary the plan audit cannot see through), so the no-all-pairs
    // claim is pinned HERE, on the kNN kernel's own physical plan
    val emb = Tables.embeddings(spark, sf)
    val p = Similarity.lshTopK(emb, "vec_id", "embedding",
      5, planes = 6, dim = 64, probes = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "LSH candidate join fell back to a nested loop")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("bucket"), "bucket key missing from the plan")
  }

  test("mutual-kNN edge recall: LSH-candidate kNN (x_knn_graph_lsh's " +
    "stage) recovers most brute-force mutual edges at query settings") {
    // the scale form's kNN stage vs the brute-force recall meter, at the
    // registered query's settings (6 planes / 64 dim / Hamming-1 probes)
    val emb = Tables.embeddings(spark, sf)
    def mutualEdges(knn: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val k = knn.select(knn("vec_id").as("a"), knn("neighbor").as("b"))
      k.join(k.select(k("b").as("a"), k("a").as("b")),
          Seq("a", "b"), "left_semi")
        .filter(org.apache.spark.sql.functions.col("a") <
          org.apache.spark.sql.functions.col("b"))
        .as[(Long, Long)].collect().toSet
    }
    val bruteMut = mutualEdges(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", 5))
    val lshMut = mutualEdges(Similarity.lshTopK(emb, "vec_id", "embedding",
      5, planes = 6, dim = 64, probes = 1))
    assert(bruteMut.nonEmpty)
    // the synthetic corpus is ISOTROPIC noise (max pair cosine ≈ 0.51, no
    // planted neighbors) — the documented LSH worst case, where "top-5"
    // itself is noise-level; assert only a sanity floor here
    val noiseRecall = lshMut.count(bruteMut.contains).toDouble / bruteMut.size
    assert(noiseRecall >= 0.1,
      s"mutual-edge recall $noiseRecall below the isotropic-noise floor " +
        s"(${lshMut.size} lsh vs ${bruteMut.size} brute)")

    // on data WITH neighbor structure (the case mutual-kNN clustering
    // exists for: planted clusters, in-cluster cosine ≈ 1, cross ≈ 0),
    // the cluster's shared sign pattern puts it in one bucket and the
    // bucketed kNN recovers the meter's edges near-exactly
    val planted = (0 until 500).map { i =>
      val c = i % 10
      val m = i / 10
      val v = Array.fill(64)(0.0f)
      v(c * 6) = 1.0f
      v(c * 6 + 1) = 0.01f * (m % 5)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val pBrute = mutualEdges(
      Similarity.bruteForceTopK(planted, "vec_id", "embedding", 5))
    val pLsh = mutualEdges(Similarity.lshTopK(planted, "vec_id", "embedding",
      5, planes = 6, dim = 64, probes = 1))
    val pRecall = pLsh.count(pBrute.contains).toDouble / pBrute.size
    assert(pBrute.nonEmpty)
    assert(pRecall >= 0.95,
      s"planted-cluster mutual-edge recall $pRecall below 0.95 " +
        s"(${pLsh.size} lsh vs ${pBrute.size} brute)")
  }

  test("lshTopK bucketCap bounds a planted hot bucket's candidates; " +
    "queries are never dropped") {
    // v_i = (i+1)·u for a fixed positive u: every projection scales
    // positively, so ALL 100 vectors share one home bucket — the hot
    // bucket a skewed embedding distribution produces. Capped at 10, the
    // corpus side of the bucket join is the 10 highest-norm vectors
    // (norm desc, id asc), so no query sees more than 10 candidates.
    val emb = (0L until 100L).map(i =>
      (i, (0 until 8).map(j => ((j + 1) * (i + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.lshTopK(emb, "vec_id", "embedding", k = 50,
      planes = 4, dim = 8, probes = 0, bucketCap = 10)
      .groupBy("vec_id").count()
      .as[(Long, Long)].collect()
    assert(capped.length === 100, "a query lost its row to the cap")
    assert(capped.map(_._2).max <= 10,
      s"hot bucket leaked past the cap: max ${capped.map(_._2).max}")
    val uncapped = Similarity.lshTopK(emb, "vec_id", "embedding", k = 50,
      planes = 4, dim = 8, probes = 0, bucketCap = 10000)
      .groupBy("vec_id").count().select("count").as[Long].collect()
    assert(uncapped.max === 50L) // k-limited, not cap-limited
  }

  test("hardNegativesLsh: planted cross-label near-misses recovered at " +
    "recall >= 0.9 vs the brute meter; labels always differ; candidate " +
    "stage is an equi-join") {
    // 10 tight clusters along distinct axes, each cluster holding BOTH
    // labels — the hard negatives (nearest different-label vectors) are
    // in-cluster, hence in-bucket: the case LSH candidate mining must not
    // lose (hard negatives are near vectors by construction)
    val planted = (0 until 400).map { i =>
      val c = (i / 2) % 10
      val m = i / 20
      val v = Array.fill(64)(0.0f)
      v(c * 6) = 1.0f
      v(c * 6 + 1) = 0.01f * (m % 5)
      (i.toLong, (i % 2).toLong, v.toSeq)
    }.toDF("vec_id", "label", "embedding")
    val brute = Similarity.hardNegatives(
      planted, "vec_id", "embedding", "label", k = 5)
      .as[(Long, Long, Long, Long, Double)].collect()
    val lshDf = Similarity.hardNegativesLsh(
      planted, "vec_id", "embedding", "label", k = 5,
      planes = 6, dim = 64, probes = 1)
    val p = lshDf.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "hardNegativesLsh candidate stage fell back to a theta join")
    val lsh = lshDf.as[(Long, Long, Long, Long, Double)].collect()
    val labelOf = (0 until 400).map(i => (i.toLong, (i % 2).toLong)).toMap
    lsh.foreach { case (v, _, n, negLbl, _) =>
      assert(labelOf(n) === negLbl, s"negative label wrong for ($v, $n)")
      assert(labelOf(v) !== negLbl, s"negative label equals query's ($v, $n)")
    }
    val bruteSet = brute.map(r => (r._1, r._3)).toSet
    val lshSet = lsh.map(r => (r._1, r._3)).toSet
    val recall = bruteSet.count(lshSet.contains).toDouble / bruteSet.size
    assert(recall >= 0.9,
      s"hard-negative recall $recall below 0.9 " +
        s"(${lshSet.size} lsh vs ${bruteSet.size} brute)")
  }

  test("lshNearDupPairsWithin: same-partition near-dups found, " +
    "cross-partition twins excluded by the join key itself") {
    import org.apache.spark.sql.functions.col
    def v(hot: Int): Seq[Float] =
      (0 until 64).map(i => if (i == hot) 1.0f else 0.0f)
    val emb = Seq(
      (1L, 0L, v(3)), (2L, 0L, v(3)),   // same label, identical → pair
      (3L, 1L, v(3)),                   // twin of 1/2 but OTHER label
      (4L, 1L, v(9)), (5L, 1L, v(9)),   // same label pair elsewhere
      (6L, 0L, v(21))                   // singleton
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.lshNearDupPairsWithin(emb, "vec_id", "embedding",
      "label", threshold = 0.9, planes = 4, dim = 64, probes = 1)
      .select(col("part"), col("a"), col("b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 1L, 2L), (1L, 4L, 5L)),
      s"partition scoping violated: $got")
  }

  test("kCenterGreedy: seed is min id; selections hit distinct planted " +
    "clusters before any revisit; radii non-increasing after round 2") {
    // 4 tight orthogonal clusters of 5 vectors each: greedy farthest-point
    // must visit all 4 clusters in the first 4 picks (any unvisited
    // cluster is ~sqrt(2) away, in-cluster is ~0.01)
    val planted = (0 until 20).map { i =>
      val c = i % 4
      val v = Array.fill(64)(0.0f)
      v(c * 10) = 1.0f
      v(c * 10 + 1) = 0.001f * (i / 4)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val got = Similarity.kCenterGreedy(planted, "vec_id", "embedding", k = 6)
      .orderBy("sel_rank")
      .as[(Long, Long, Option[Double])].collect()
    assert(got.length === 6)
    assert(got.head === ((1L, 0L, None))) // seed = min id, null radius
    val clustersOf = got.take(4).map(_._2 % 4).toSet
    assert(clustersOf.size === 4,
      s"first 4 picks must cover all clusters, got ${got.take(4).toSeq}")
    // radii: available from round 2 on, non-increasing
    val radii = got.drop(1).map(_._3.get)
    assert(radii.zip(radii.tail).forall { case (x, y) => y <= x },
      s"radii must be non-increasing: ${radii.toSeq}")
    // rounds 5-6 are in-cluster revisits: far smaller than cross-cluster
    assert(radii(3) < radii(2) / 100)
  }

  test("mmrSelect: pick 1 is pure relevance; a near-duplicate of it loses " +
    "pick 2 to a farther, slightly-less-relevant vector; no re-selection") {
    // v0: the most relevant (norm² = 4); v1: its near-duplicate (norm²
    // 3.9601) — high relevance but dmin≈0 after v0 is picked; v2:
    // orthogonal, norm² = 1 (rel 1, dmin to v0 = 5 → score 3.5 beats
    // v1's ≈3.96+0.0008·0.5... compute: v1 dmin=(2−1.99)²=1e-4 → score
    // 3.9601+0.00005=3.96015; v2 score 1+0.5·5=3.5 — v1 actually WINS
    // pick 2 on these numbers, so push v1's norm down: 1.1²=1.21 →
    // score ≈1.21+0.5·0.81=1.615 < 3.5. Then v2 takes pick 2.
    val emb = Seq(
      (0L, Seq(2.0f, 0.0f)),   // rel 4 — pick 1
      (1L, Seq(1.1f, 0.0f)),   // near-dup direction, rel 1.21, dmin (2-1.1)²=0.81
      (2L, Seq(0.0f, 1.0f)),   // orthogonal, rel 1, dmin 4+1=5 → pick 2
      (3L, Seq(0.1f, 0.1f))    // tiny
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(emb, "vec_id", "embedding", k = 3)
      .orderBy("sel_rank")
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(0L, 2L, 1L), got.toSeq.toString)
    assert(got.head._3 === 4.0) // pick-1 score = its relevance
    // every pick distinct (retirement works even with dominant relevance)
    assert(got.map(_._2).distinct.length == 3)
  }

  test("sq8TopKExact: grid-aligned vectors rank exactly; identical vectors " +
    "at distance zero; off-grid values clamp into [0,255]") {
    // components on the 0..255 grid scaled into [0,1]: quantization is
    // lossless, so SQ8 ordering == exact L2 ordering by construction
    def vec(cs: Int*): Array[Float] = cs.map(c => c / 255.0f).toArray
    val emb = Seq(
      (1L, vec(0, 0, 0, 0)),
      (2L, vec(0, 0, 0, 255)),   // d²(1,2)=255²
      (3L, vec(0, 0, 255, 255)), // d²(1,3)=2·255²
      (4L, vec(0, 0, 0, 0))      // exact dup of 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.sq8TopKExact(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (v, rs) => v -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(got(1L) === Seq(4L, 2L, 3L)) // dup first, then 1-component, 2-component
    val d14 = Similarity.sq8TopKExact(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect()
      .find(r => r._1 == 1L && r._3 == 4L).get._4
    assert(d14 === 0.0)
    // a value far outside the others' range defines the grid edge; codes
    // clamp rather than overflow (structurally: result still k rows/vector)
    val wild = emb.union(Seq((9L, Array(9.9f, -9.9f, 0f, 0f)))
      .toDF("vec_id", "embedding"))
    val n = Similarity.sq8TopKExact(wild, "vec_id", "embedding", k = 2).count()
    assert(n === 5 * 2)
  }

  test("sq8TopK (two-stage): recall ≥ 0.9 vs the exact all-pairs form on " +
    "clustered data, distances identical on shared pairs everywhere") {
    // Banded sign-code retrieval finds structure, not uniform noise: on a
    // CLUSTERED corpus (the shape real embeddings have) the own-cluster
    // neighbors sit at small code Hamming and the 9-band stage recovers
    // them; on uniform-random vectors any LSH family degrades to chance
    // — so the recall bound is asserted on planted clusters (the same
    // construction binaryTopK's recovery spec uses).
    val base = (0 until 64).map(j => math.sin(j * 1.7).toFloat)
    def jitter(id: Int) =
      base.zipWithIndex.map { case (x, j) =>
        x * (1.0f + 0.002f * ((id * 31 + j) % 7))
      }
    val rows = (0 until 10).map(i => (i.toLong, jitter(i))) ++
      (10 until 20).map(i => (i.toLong, jitter(i).map(x => -x)))
    val emb = rows.toDF("vec_id", "embedding")
    val approx = Similarity.sq8TopK(emb, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long, Double)].collect()
    val exact = Similarity.sq8TopKExact(emb, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long, Double)].collect()
    val exactPairs = exact.map(r => (r._1, r._3)).toSet
    val hits = approx.count(r => exactPairs((r._1, r._3)))
    val recall = hits.toDouble / exact.length
    assert(recall >= 0.9, s"two-stage SQ8 recall $recall < 0.9")
    // a pair ranked by BOTH forms carries the identical SQ8 distance —
    // the shortlist changes which pairs surface, never their distances.
    // Asserted on the REAL corpus too (where recall is chance-level but
    // every surfaced distance must still be the exact SQ8 value).
    val embR = Tables.embeddings(spark, sf)
    val aR = Similarity.sq8TopK(embR, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long, Double)].collect()
    val eR = Similarity.sq8TopKExact(embR, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long, Double)].collect()
    val exactDist = eR.map(r => (r._1, r._3) -> r._4).toMap
    val shared = aR.filter(r => exactDist.contains((r._1, r._3)))
    assert(shared.nonEmpty)
    shared.foreach { r =>
      assert(r._4 === exactDist((r._1, r._3)),
        s"distance drift on (${r._1}, ${r._3})")
    }
  }

  test("meterQueryIds: fixed COUNT, deterministic across runs, and a " +
    "subset of the corpus ids") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.meterQueryIds(emb, "vec_id", 256)
      .as[Long].collect().toSet
    val b = Similarity.meterQueryIds(emb, "vec_id", 256)
      .as[Long].collect().toSet
    assert(a === b, "meter sample must be deterministic")
    assert(a.size === math.min(256, emb.count()).toInt)
    val ids = emb.select("vec_id").as[Long].collect().toSet
    assert(a.subsetOf(ids))
    // a smaller s nests inside a larger one (prefix property of the
    // hash-ordered ranking — stable as the budget dial moves)
    val small = Similarity.meterQueryIds(emb, "vec_id", 16)
      .as[Long].collect().toSet
    assert(small.subsetOf(a) && small.size == 16)
  }

  test("filteredTopKLsh: every neighbor satisfies the predicate; scores " +
    "equal the brute filtered ranking on candidate pairs; no nested loop") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.lshIndex(emb, "vec_id", "embedding",
      planes = 6, dim = 64, carryCols = Seq("label"))
    val df = Similarity.filteredTopKLshFromIndex(idx,
      col("label") === 1, k = 5, planes = 6, probes = 1)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "filtered LSH regressed to an all-pairs join")
    val got = df.as[(Long, Long, Long, Double)].collect()
    val labels = emb.select("vec_id", "label").as[(Long, Long)]
      .collect().toMap
    assert(got.nonEmpty && got.forall(r => labels(r._3) == 1L),
      "a neighbor escaped the metadata filter")
    // every surfaced (query, neighbor) cosine matches the exact brute
    // score — buckets change WHICH pairs surface, never their value
    val brute = Similarity.filteredTopK(emb, "vec_id", "embedding",
      col("label") === 1, k = 50)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    got.filter(r => brute.contains((r._1, r._3))).foreach { r =>
      assert(r._4 === brute((r._1, r._3)))
    }
  }

  test("binaryTopKIncremental: neighbors come from the CORPUS only, " +
    "queries from the batch only; a planted corpus twin is recovered") {
    import org.apache.spark.sql.functions.col
    val base = (0 until 64).map(j => math.sin(j * 2.3).toFloat)
    def jitter(id: Int, scale: Float) =
      base.zipWithIndex.map { case (x, j) =>
        x * (1.0f + scale * ((id * 37 + j) % 5))
      }
    // corpus 0..9 (one cluster) + batch 100..104 (same cluster, jittered)
    val corpus = (0 until 10).map(i => (i.toLong, jitter(i, 0.002f)))
      .toDF("vec_id", "embedding")
    val batch = (100 until 105).map(i => (i.toLong, jitter(i, 0.002f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.binaryTopKIncremental(corpus, batch,
      "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._1 >= 100L), "a corpus vector appeared as a query")
    assert(got.forall(_._3 < 100L), "a batch vector appeared as a neighbor")
    // same-cluster sign codes are near-identical → full k recovered with
    // exact brute cosines
    val brute = Similarity.bruteForceTopK(
      corpus.unionByName(batch), "vec_id", "embedding", k = 20)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    got.foreach { r => assert(r._4 === brute((r._1, r._3))) }
    assert(got.count(_._1 == 100L) === 3)
  }

  test("pqTopK: structural shape + exact-duplicate pair at distance zero") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    // plant an exact duplicate of vector 1 under a fresh id: identical
    // vectors land in the same coarse cell with identical codes, so the
    // PQ distance is exactly 0 and each is the other's rank-1 neighbor
    val dup = emb.filter(col("vec_id") === 1)
      .select(lit(9001L).as("vec_id"), col("embedding"),
        col("label"))
    val got = Similarity.pqTopK(emb.unionByName(dup), "vec_id", "embedding",
      k = 5, coarseStep = 40, codeStep = 100, codeMax = 3000)
      .as[(Long, Long, Long, Double)].collect()
    val byVec = got.groupBy(_._1)
    byVec.values.foreach { rows =>
      assert(rows.map(_._2).sorted.sameElements(1L to rows.length))
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4).sliding(2).forall(p => p.head <= p.last + 1e-12))
      assert(rows.forall(_._4 >= 0.0))
    }
    assert(byVec.forall(_._2.length <= 5))
    val d1 = got.find(r => r._1 == 1L && r._3 == 9001L).get
    val d2 = got.find(r => r._1 == 9001L && r._3 == 1L).get
    assert(d1._2 == 1L && d1._4 == 0.0, s"dup not rank-1/dist-0: $d1")
    assert(d2._2 == 1L && d2._4 == 0.0, s"dup not rank-1/dist-0: $d2")
  }

  test("ivfTopK cellCap bounds a planted hot cell's candidates") {
    // all 100 vectors land in ONE cell (only id 0 is a sampled centroid):
    // uncapped, each query ranks 99 candidates; capped at 10, the neighbor
    // side of the in-cell join is the 10 vectors nearest the centroid, so
    // no query can see more than 10 candidates regardless of cell size
    val emb = (0L until 100L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.ivfTopK(emb, "vec_id", "embedding",
      k = 50, centroidStep = 1000, cellCap = 10)
      .groupBy("vec_id").count().select("count")
      .as[Long].collect()
    assert(capped.nonEmpty && capped.max <= 10,
      s"hot cell leaked past the cap: max ${capped.max}")
    val uncapped = Similarity.ivfTopK(emb, "vec_id", "embedding",
      k = 50, centroidStep = 1000, cellCap = 10000)
      .groupBy("vec_id").count().select("count")
      .as[Long].collect()
    assert(uncapped.max === 50L) // k-limited, not cap-limited
  }

  test("ivfTopK multi-probe: nprobe=2 recall vs brute force is at least " +
    "nprobe=1's, with strictly more candidates scored") {
    val emb = Tables.embeddings(spark, sf)
    val bruteTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 5)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._3)).toSet
    def got(nprobe: Int) = Similarity.ivfTopK(emb, "vec_id", "embedding",
      k = 5, centroidStep = 40, nprobe = nprobe)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._3)).toSet
    val g1 = got(1)
    val g2 = got(2)
    val r1 = g1.count(bruteTop.contains).toDouble / bruteTop.size
    val r2 = g2.count(bruteTop.contains).toDouble / bruteTop.size
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 $r1")
    assert(r2 > r1, s"nprobe=2 gained nothing over nprobe=1 ($r1) — " +
      "fixture has no cell-boundary neighbors, pick another sf")
  }

  test("ivfTopKIncremental: batch searches the settled corpus only — " +
    "planted twins recovered at rank 1, neighbors never from the batch, " +
    "centroids derived from the assignment table alone") {
    // corpus ids 0..399 (centroids: % 40 == 0), batch ids 1000..1019 each
    // an exact copy of corpus vector (id-1000)*20 — the twin lands in the
    // same cell by determinism, so nprobe=1 must find it at cos ~ 1
    // j=0 carries the id so no two corpus vectors are identical (an exact
    // duplicate elsewhere would legitimately win the twin's rank-1 tie)
    def vec(i: Long): Array[Float] =
      Array.tabulate(64)(j =>
        if (j == 0) (i + 13).toFloat
        else (((i * 7 + j * 3) % 23) - 11).toFloat)
    val corpus = (0L until 400L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val batch = (0L until 20L).map(i => (1000L + i, vec(i * 20)))
      .toDF("vec_id", "embedding")
    val assign = Similarity.ivfAssignments(corpus, "vec_id", "embedding",
      centroidStep = 40, maxRank = 1)
    val got = Similarity.ivfTopKIncremental(assign, batch,
      "vec_id", "embedding", k = 3, cellCap = 512, nprobe = 1)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._3 < 1000L), "a neighbor came from the batch side")
    assert(got.forall(r => r._1 >= 1000L))
    val rank1 = got.filter(_._2 == 1L).map(r => r._1 -> (r._3, r._4)).toMap
    (0L until 20L).foreach { i =>
      val (nb, cos) = rank1(1000L + i)
      assert(nb == i * 20 && cos > 0.999999,
        s"batch ${1000 + i}: expected twin ${i * 20} at rank 1, got $nb ($cos)")
    }
    // nprobe=2 widens the candidate pool per query, never shrinks it
    val got2 = Similarity.ivfTopKIncremental(assign, batch,
      "vec_id", "embedding", k = 3, cellCap = 512, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    val c1 = got.groupBy(_._1).view.mapValues(_.length).toMap
    val c2 = got2.groupBy(_._1).view.mapValues(_.length).toMap
    assert(c1.forall { case (q, n) => c2.getOrElse(q, 0) >= n })
  }

  test("pqTopK cellCap bounds a planted hot cell; dim mismatch fails fast") {
    val emb = (0L until 60L).map(i =>
      (i, Array.tabulate(64)(j => ((i * 11 + j) % 17 - 8).toFloat)))
      .toDF("vec_id", "embedding")
    val counts = Similarity.pqTopK(emb, "vec_id", "embedding",
      k = 50, coarseStep = 1000, codeStep = 7, codeMax = 3000,
      m = 8, subDim = 8, cellCap = 5)
      .groupBy("vec_id").count().select("count").as[Long].collect()
    assert(counts.nonEmpty && counts.max <= 5,
      s"hot cell leaked past the cap: max ${counts.max}")
    // dim 8 vectors against m*subDim = 64 must abort, not NULL-poison ranks
    val short = (0L until 10L).map(i =>
      (i, Array.tabulate(8)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.pqTopK(short, "vec_id", "embedding", k = 3,
        coarseStep = 2, codeStep = 2, codeMax = 3000,
        m = 8, subDim = 8).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("dim must equal")),
      s"unexpected failure: $ex")
  }

  test("kmeans: total assignment, clusters ⊆ init ids, Lloyd objective non-increasing") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    def run(iters: Int) =
      graft.sim.KMeans.kmeans(emb, "vec_id", "embedding",
        centroidStep = 10, iters = iters)
    val one = run(1)
    val two = run(2)
    assert(one.count() === n && two.count() === n) // every vector assigned
    val initIds = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val used = two.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(used.subsetOf(initIds))
    val obj1 = one.agg(sum("dist2")).head().getDouble(0)
    val obj2 = two.agg(sum("dist2")).head().getDouble(0)
    assert(obj2 <= obj1 + 1e-6, s"objective rose: $obj1 -> $obj2")
  }

  test("hardNegatives: every mined negative has a different label, " +
    "ranking matches the label-filtered brute force") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", "label", k = 3)
    val labels = emb.select(col("vec_id").as("id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, neg, negLbl) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(labels(q) !== negLbl, s"same-label negative for $q")
      assert(labels(neg) === negLbl, "neg_label must be the neighbor's label")
    }
    // per query: exactly k rows, cosine non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length === 3)
      val cs = rs.sortBy(_.getLong(1)).map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("randomProjection matches a driver-side exact integer replay " +
    "(same md5 weights, same quantization), outDim rows per vector") {
    val inDim = 64
    val outDim = 16
    val vecs = (0 until 3).map { id =>
      (id.toLong, (0 until inDim).map(j => (id * inDim + j) * 0.01f - 2f).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity
      .randomProjection(df, "vec_id", "embedding", inDim, outDim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size === 3 * outDim)
    // independent replay of the contract: q_j = floor(v_j·10⁶) in double,
    // w(j,k) = md5-prefix mod 6 → {+1,−1,0}
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(j: Int, k: Int): Long = {
      val hex = md.digest(s"graft-rp:$j:$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(14)
      java.lang.Long.parseLong(hex, 16) % 6 match {
        case 0 => 1L; case 1 => -1L; case _ => 0L
      }
    }
    for ((id, v) <- vecs; k <- 0 until outDim) {
      val expected = (0 until inDim).map { j =>
        math.floor(v(j).toDouble * 1000000d).toLong * w(j, k)
      }.sum
      assert(got((id, k.toLong)) === expected, s"vec $id dim $k")
    }
    // the matrix is genuinely sparse AND genuinely mixed-sign
    val ws = for (j <- 0 until inDim; k <- 0 until outDim) yield w(j, k)
    assert(ws.count(_ == 0L) > ws.size / 2)
    assert(ws.contains(1L) && ws.contains(-1L))
  }

  test("binaryTopK recovers the exact top-k on sign-separable clusters " +
    "and emits brute-force cosines") {
    import org.apache.spark.sql.functions.col
    // two antipodal clusters: members of a cluster share every projection
    // sign, opposite clusters flip all of them — the Hamming shortlist
    // is exactly the own-cluster set, so the rerank must reproduce the
    // brute-force answer bit-for-bit
    val base = (0 until 64).map(j => math.sin(j * 1.7).toFloat)
    def jitter(id: Int) =
      base.zipWithIndex.map { case (x, j) =>
        x * (1.0f + 0.001f * ((id * 31 + j) % 7))
      }
    val rows = (0 until 8).map(i => (i.toLong, jitter(i))) ++
      (8 until 16).map(i => (i.toLong, jitter(i).map(x => -x)))
    val emb = rows.toDF("vec_id", "embedding")
    // oversample 3 → shortlist 9 ⊇ the whole 8-member cluster even if
    // jitter flips a few near-zero projection signs
    val got = Similarity.binaryTopK(emb, "vec_id", "embedding",
      k = 3, oversample = 3, inDim = 64, bits = 63)
      .as[(Long, Long, Long, Double)].collect()
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.toSet === brute.toSet)
    // neighbors never cross the antipodal boundary at k=3 < cluster size
    assert(got.forall(r => (r._1 < 8) == (r._3 < 8)))
  }

  test("binary codes are positive 63-bit longs; identical vectors share a " +
    "code (banded candidates); the Hamming-63 antipode shares NO band and " +
    "never surfaces — the documented banding recall contract") {
    import org.apache.spark.sql.functions.col
    val v = (0 until 64).map(j => math.cos(j * 0.9).toFloat)
    val emb = Seq((1L, v), (2L, v), (3L, v.map(x => -x)))
      .toDF("vec_id", "embedding")
    // identical vectors are Hamming-0 → share every band → candidates;
    // the antipode complements the code (Hamming 63) → agrees on no band
    // → invisible to the banded stage 1 BY DESIGN (a pair at Hamming ≥
    // bands may be missed; the quadratic stage-1 this replaced would have
    // ranked it, at n² cost)
    val got = Similarity.binaryTopK(emb, "vec_id", "embedding",
      k = 2, oversample = 1, inDim = 64, bits = 63)
      .as[(Long, Long, Long, Double)].collect()
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 1L)) === 2L && m((2L, 1L)) === 1L)
    assert(!got.exists(r => r._3 == 3L || r._1 == 3L),
      "the all-bands-differ antipode leaked into the banded candidates")
    // the banded candidate stream itself: directed both ways, dedupes
    // across the 9 shared bands, carries the exact popcount distance
    val codes = Similarity.binaryCodes(emb, "vec_id", "embedding",
      inDim = 64, bits = 63, seed = "graft-bq")
      .toDF("id", "code")
    val cand = Similarity.hammingBandCandidates(codes, bits = 63, bands = 9)
      .as[(Long, Long, Double)].collect().toSet
    assert(cand === Set((1L, 2L, 0.0), (2L, 1L, 0.0)))
  }

  test("crossSnapshotEmbNearDups: planted batch twin matches its corpus " +
    "original; batch-internal twins never pair") {
    // corpus vector 10 and batch vectors 11, 13 identical; batch 13 and
    // 15 identical to EACH OTHER only → (11,10) and (13,10)... 15 has no
    // corpus twin → absent. Other vectors orthogonal-ish.
    def v(seed: Int): Seq[Float] =
      (0 until 64).map(i => if (i == seed % 64) 1.0f else 0.0f)
    val corpus = Seq((10L, v(3)), (20L, v(7)), (22L, v(9)))
      .toDF("vec_id", "embedding")
    val batch = Seq((11L, v(3)), (13L, v(3)), (15L, v(21)))
      .toDF("vec_id", "embedding")
    val got = Similarity.crossSnapshotEmbNearDupsFromIndex(
      Similarity.lshIndex(corpus, "vec_id", "embedding", planes = 6, dim = 64),
      Similarity.lshIndex(batch, "vec_id", "embedding", planes = 6, dim = 64),
      threshold = 0.9, planes = 6)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(got === Set((11L, 10L), (13L, 10L)))
  }

  test("rrfFuse: exact fixed-order scores, union of candidates, " +
    "id tie-break") {
    import org.apache.spark.sql.functions.col
    // query 1: ranker A has {10:1, 20:2}, ranker B has {20:1, 30:2}
    val a = Seq((1L, 1L, 10L), (1L, 2L, 20L)).toDF("vec_id", "rank", "neighbor")
    val b = Seq((1L, 1L, 20L), (1L, 2L, 30L)).toDF("vec_id", "rank", "neighbor")
    val got = Similarity.rrfFuse(a, b, k = 3)
      .orderBy(col("rank"))
      .as[(Long, Long, Long, Double)].collect()
    // 20 scores 1/62 + 1/61 (both sides), 10 scores 1/61, 30 scores 1/62
    assert(got.map(r => (r._2, r._3)) === Seq((1L, 20L), (2L, 10L), (3L, 30L)))
    assert(got(0)._4 === 1.0 / 62 + 1.0 / 61)
    assert(got(1)._4 === 1.0 / 61 + 0.0)
    assert(got(2)._4 === 0.0 + 1.0 / 62)
    // equal-score tie (both only-in-A at the same rank) breaks by id asc
    val a2 = Seq((7L, 1L, 5L), (7L, 1L, 3L)).toDF("vec_id", "rank", "neighbor")
    val b2 = Seq.empty[(Long, Long, Long)].toDF("vec_id", "rank", "neighbor")
    val tie = Similarity.rrfFuse(a2, b2, k = 2)
      .orderBy(col("rank")).as[(Long, Long, Long, Double)].collect()
    assert(tie.map(_._3) === Seq(3L, 5L))
  }

  test("bruteForceTopKL2: distances ascend per query and equal a " +
    "driver-side exact fold; queryPred bounds the query side") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf).limit(40).persist()
    val raw = emb.as[(Long, Seq[Float], Int)].collect()
      .map { case (id, v, _) => id -> v.map(_.toDouble) }.toMap
    val got = Similarity.bruteForceTopKL2(emb, "vec_id", "embedding",
      k = 3, queryPred = col("id") % 2 === 0)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._1).distinct.forall(_ % 2 == 0))
    got.groupBy(_._1).values.foreach { rows =>
      val s = rows.sortBy(_._2).map(_._4)
      assert(s.sliding(2).forall(p => p.length < 2 || p.head <= p.last))
    }
    // exact sequential-fold replay for every returned pair
    got.foreach { case (q, _, n, d) =>
      var acc = 0.0
      val (va, vb) = (raw(q), raw(n))
      var i = 0
      while (i < va.length) { val dd = va(i) - vb(i); acc += dd * dd; i += 1 }
      assert(acc == d, s"pair ($q,$n)")
    }
    emb.unpersist()
  }

  test("planesFor: corpus-derived LSH plane count — clamps at [4, 16], " +
      "monotone, and the fixture corpora derive DIFFERENT values") {
    assert(Similarity.planesFor(1L, targetBucket = 32) == 4)
    assert(Similarity.planesFor(500L, targetBucket = 32) == 4)
    assert(Similarity.planesFor(2000L, targetBucket = 32) == 6)
    val ns = Seq(1L, 100L, 10000L, 1000000L, 100000000L, 1L << 40)
    val ps = ns.map(Similarity.planesFor(_, targetBucket = 32))
    assert(ps == ps.sorted && ps.last == 16)
    // exact power-of-two boundaries: 2^p buckets of exactly targetBucket
    assert(Similarity.planesFor(32L * 32L, targetBucket = 32) == 5)
    assert(Similarity.planesFor(32L * 32L + 1, targetBucket = 32) == 6)
  }
}
