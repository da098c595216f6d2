package graft.dedup

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now friends"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "tiny doc")                                     // shorter than shingle width
  ).toDF("doc_id", "text")

  /** Cross-snapshot near-dups of `incoming` against `corpus` over each
    * side's minhash signatures and the shared shingle table (n = 3, 32
    * hashes), the artifacts x_dedup_incremental persists. */
  private def crossSnapshot(corpus: org.apache.spark.sql.DataFrame,
      incoming: org.apache.spark.sql.DataFrame, bands: Int,
      threshold: Double): org.apache.spark.sql.DataFrame =
    Dedup.crossSnapshotNearDupsFromArtifacts(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 32),
      Dedup.minhashSignatures(incoming, "doc_id", "text", 3, 32),
      Dedup.shingles(incoming, "doc_id", "text", 3)
        .unionByName(Dedup.shingles(corpus, "doc_id", "text", 3)),
      numHashes = 32, bands = bands, threshold = threshold)

  test("crossSnapshotNearDups pairs incoming with corpus only, oriented new->old") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "completely different words entirely here now friends"),
      (14L, "another corpus document about nothing in particular today")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (21L, "the quick brown fox jumps over the lazy dog"),   // dup of 10
      (23L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 10
      (25L, "fresh unseen content with no earlier counterpart anywhere"),
      // near-dup of ANOTHER INCOMING doc but nothing in the corpus — must
      // NOT appear (new x new pairs are out of scope by construction)
      (27L, "fresh unseen content with no earlier counterpart anytime")
    ).toDF("doc_id", "text")
    val got = crossSnapshot(corpus, incoming, bands = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((21L, 10L)))
    assert(got.find(r => r._1 == 21L && r._2 == 10L).get._3 === 1.0)
    // orientation: new ids on the left, corpus ids on the right
    assert(got.forall(r => r._1 % 2 == 1 && r._2 % 2 == 0))
    // 25/27 are mutual near-dups but match nothing in the corpus
    assert(!pairs.exists(p => p._1 == 25L || p._1 == 27L))
  }

  test("keepBest picks the highest-quality member per cluster, min id on ties") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.3), (9L, 0.1))
      .toDF("doc_id", "quality")
    val got = Dedup.keepBest(clusters, quality)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, 2L, 3L, 0.9),   // 2 and 3 tie on quality — lower id kept
      (7L, 7L, 2L, 0.3)))
  }

  test("normalizedGroups: case/punct/digit edits collapse, reorders do not") {
    val variants = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),          // = 1 after normalization
      (3L, "HELLO... world 2024"),  // = 1 after normalization
      (4L, "world hello"),          // reordered → distinct (order-preserving)
      (5L, "hello  worlds")         // content edit → distinct
    ).toDF("doc_id", "text")
    val got = Dedup.normalizedGroups(variants, "doc_id", "text")
      .select("keep_id", "n_docs").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L), (4L, 1L), (5L, 1L)))
  }

  test("sourceOverlap: shared shingles per source pair with containment, " +
    "no row for disjoint sources") {
    val d = Seq(
      (1L, "alpha beta gamma delta", "A"),
      (2L, "alpha beta gamma zeta", "B"),
      (3L, "totally different words here", "C")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(d, "doc_id", "text", "source")
      .as[(String, String, Long, Double)].collect().toSet
    // A and B share exactly "alpha beta gamma" (1 of each side's 2)
    assert(got === Set(("A", "B", 1L, 0.5)))
  }

  test("intraDocSegmentDedup drops later in-doc repeats only, keeps order, " +
    "and cross-doc repeats are untouched") {
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val d = Seq(
      (1L, s"$segA $segB $segA"), // third segment repeats the first
      (2L, segA)                  // same segment, different doc — kept
    ).toDF("doc_id", "text")
    val got = Dedup.intraDocSegmentDedup(d, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 2L, s"$segA $segB")))
    assert(got(2L) === ((2L, 1L, 1L, segA)))
  }

  test("exactGroups groups identical bags of words, keeps min id") {
    val got = Dedup.exactGroups(docs, "doc_id", "text")
      .select("keep_id", "n_docs").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L))) // docs 1 and 4
    assert(got.count(_._2 == 1L) === 3)
  }

  test("shingles: distinct 3-gram shingles, short docs yield none") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    assert(sh.filter($"doc_id" === 5L).count() === 0)
    // doc 1: 9 words → 7 shingles, all distinct
    assert(sh.filter($"doc_id" === 1L).count() === 7)
  }

  test("ngramJaccardPairs finds near-dups above the threshold") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 4L))) // exact → jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(got.find(r => r._1 == 1L && r._2 == 4L).get._3 === 1.0)
  }

  test("minhashLshPairs agrees with exact jaccard on planted dups") {
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, threshold = 0.4)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    // identical docs always collide in every band
    assert(got.contains((1L, 4L)))
  }

  test("simhash: identical docs get identical signatures, near-dups close") {
    val sig = Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) === sig(4L))
    val ham = java.lang.Long.bitCount(sig(1L) ^ sig(2L))
    val hamFar = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(ham < hamFar, s"near-dup hamming $ham !< unrelated $hamFar")
  }

  test("simhashNearDupPairs returns exact dups at hamming 0") {
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      bits = 64, bands = 4, maxHamming = 0)
      .as[(Long, Long, Int)].collect()
    assert(got.exists(r => r._1 == 1L && r._2 == 4L && r._3 == 0))
  }

  test("adversarial planted pair: errors spread across ALL bands escape " +
    "simple banding; Manku combination tables catch every ≤8-bit pair") {
    // 8 differing bits, TWO per 16-bit band: the pair agrees on no band
    // key, so 4-band banding at maxHamming 8 silently misses it — the
    // round-5 pigeonhole violation, made visible
    val spread = (0L, java.lang.Long.parseLong("0000000000000011", 16) |
      (3L << 16) | (3L << 32) | (3L << 48))
    val sigs = Seq((1L, spread._1), (2L, spread._2)).toDF("doc_id", "sig")
    assert(java.lang.Long.bitCount(spread._1 ^ spread._2) === 8)
    val banded = Dedup.signatureNearDupPairs(sigs, bits = 64, bands = 4,
      maxHamming = 8).count()
    assert(banded === 0, "banding unexpectedly caught the spread pair — " +
      "the adversarial case no longer demonstrates the miss")
    val manku = Dedup.mankuNearDupPairs(sigs, bits = 64, blocks = 10,
      maxHamming = 8).as[(Long, Long, Int)].collect()
    assert(manku.toSeq === Seq((1L, 2L, 8)),
      s"complete tables missed the planted ≤8-bit pair: ${manku.toSeq}")
    // exhaustive completeness sweep: a 0-signature doc against every
    // 8-bit error pattern hitting 8 DISTINCT blocks (worst case — no two
    // errors share a block, so agreement is exactly 2 blocks)
    val worst = (0 until 8).map(b => 1L << (b * 8 + b % 7))
      .foldLeft(0L)(_ | _)
    val sigs2 = Seq((1L, 0L), (2L, worst)).toDF("doc_id", "sig")
    assert(java.lang.Long.bitCount(worst) === 8)
    assert(Dedup.mankuNearDupPairs(sigs2, bits = 64, blocks = 10,
      maxHamming = 8).count() === 1)
    // and a 9-bit pair is correctly OUTSIDE the contract radius
    val nine = worst | 2L
    val sigs3 = Seq((1L, 0L), (2L, nine)).toDF("doc_id", "sig")
    assert(Dedup.mankuNearDupPairs(sigs3, bits = 64, blocks = 10,
      maxHamming = 8).count() === 0)
    // the pigeonhole precondition is ENFORCED, not assumed: maxHamming ≥
    // blocks would dissolve completeness silently, so it throws
    val ex = intercept[IllegalArgumentException] {
      Dedup.mankuNearDupPairs(sigs, bits = 64, blocks = 8, maxHamming = 8)
    }
    assert(ex.getMessage.contains("blocks > maxHamming"))
    // uneven widths (64 bits / 10 blocks → six 6-bit + four 7-bit blocks)
    // are the DEFAULT layout above — completeness held throughout; pin
    // the layout contract explicitly
    val (layout, _) = Dedup.mankuLayout(64, 10, 8)
    assert(layout.map(_._2).sum === 64)
    assert(layout.map(_._2).toSet === Set(6, 7))
  }

  test("mankuNearDupPairs completeness property: EVERY random ≤8-bit " +
    "perturbation of a random signature is found (and banding's misses " +
    "are a strict subset)") {
    // fixed-seed ScalaCheck-style sweep: 40 (base, error-pattern) cases,
    // error weights 1..8 at random positions — the exhaustive adversary
    // the pigeonhole proof must survive
    val rnd = new scala.util.Random(4242L)
    val cases = (0 until 40).map { i =>
      val base = rnd.nextLong()
      val weight = 1 + rnd.nextInt(8)
      val bits = rnd.shuffle((0 until 64).toList).take(weight)
      (i, base, bits.foldLeft(base)((s, b) => s ^ (1L << b)), weight)
    }
    val sigs = cases.flatMap { case (i, a, b, _) =>
      Seq((i * 2L, a), (i * 2L + 1, b))
    }.toDF("doc_id", "sig")
    val found = Dedup.mankuNearDupPairs(sigs, bits = 64, blocks = 10,
      maxHamming = 8)
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    cases.foreach { case (i, a, b, w) =>
      // only same-case pairs are guaranteed (cross-case pairs may also
      // qualify by chance — irrelevant here)
      assert(found.contains((i * 2L, i * 2L + 1)),
        f"missed planted pair case=$i weight=$w a=$a%016x b=$b%016x")
    }
    // the banded form over the same table finds at most as many of the
    // planted pairs (and, across seeds, strictly fewer — the round-5 gap)
    val banded = Dedup.signatureNearDupPairs(sigs, bits = 64, bands = 4,
      maxHamming = 8)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val plantedFoundBanded =
      cases.count { case (i, _, _, _) => banded.contains((i * 2L, i * 2L + 1)) }
    assert(plantedFoundBanded <= cases.size)
    assert(plantedFoundBanded < cases.size,
      "banding found every planted pair — the adversarial seed lost its bite")
  }

  test("signatureCrossSnapshotPairs: ≤3-bit batch×corpus pairs found, " +
    "batch-internal twins never pair, radius ≥ bands rejected fast") {
    val corpus = Seq((2L, 0L), (4L, 0xFF00L)).toDF("doc_id", "sig")
    val batch = Seq((1L, 3L), (3L, 3L)).toDF("doc_id", "sig") // ham 2 vs 0
    val got = Dedup.signatureCrossSnapshotPairs(corpus, batch,
      bits = 64, bands = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 2), (3L, 2L, 2)), s"got $got")
    val ex = intercept[IllegalArgumentException] {
      Dedup.signatureCrossSnapshotPairs(corpus, batch,
        bits = 64, bands = 4, maxHamming = 6)
    }
    assert(ex.getMessage.contains("mankuCrossSnapshotPairs"))
  }

  test("mankuCrossSnapshotPairs: batch probes corpus only — the spread " +
    "8-bit pair is caught across snapshots, batch-internal twins never pair") {
    val spread = java.lang.Long.parseLong("11", 16) |
      (3L << 16) | (3L << 32) | (3L << 48)
    val corpus = Seq((2L, 0L), (4L, 999L)).toDF("doc_id", "sig")
    // batch holds the spread signature TWICE (1 and 3): both must pair
    // with corpus doc 2, but never with each other (new×old only)
    val batch = Seq((1L, spread), (3L, spread)).toDF("doc_id", "sig")
    val got = Dedup.mankuCrossSnapshotPairs(corpus, batch,
      bits = 64, blocks = 10, maxHamming = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 8), (3L, 2L, 8)), s"got $got")
  }

  test("exactMembership lists only multi-doc groups, one row per member") {
    val got = Dedup.exactMembership(docs, "doc_id", "text")
      .as[(String, Long)].collect()
    assert(got.map(_._2).sorted.toSeq === Seq(1L, 4L)) // the only dup group
    assert(got.map(_._1).distinct.length === 1)
  }

  test("64-bit banding keeps candidate pairs near-linear on unrelated docs") {
    // 300 pairwise-unrelated docs: with 16-bit band keys the bucket join
    // should produce ~0 candidate pairs (vs ~n²/2·bands/2^8 for 8-bit keys).
    // maxHamming = 64 disables the post-filter so we count raw candidates.
    val rnd = (1 to 300).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
    val cand = Dedup.simhashNearDupPairs(rnd, "doc_id", "text",
      bits = 64, bands = 4, maxHamming = 64).count()
    assert(cand < 300, s"banded candidates should be ~linear, got $cand")
  }

  test("duplicatedSpanFraction: copied spans raise the fraction, unique text scores 0") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),   // 4 5-shingles
      (2L, "alpha beta gamma delta epsilon different tail words"), // shares 1
      (3L, "wholly unrelated words with no overlap anywhere here"),
      (4L, "tiny")                                             // < 5 words
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanFraction(corpus, "doc_id", "text", n = 5)
      .select("doc_id", "n_shingles", "n_dup_shingles", "dup_frac_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(4L)) // too short for any shingle
    assert(got(1L) === ((1L, 4L, 1L, 250000L))) // "alpha..epsilon" shared
    assert(got(2L) === ((2L, 4L, 1L, 250000L)))
    assert(got(3L) === ((3L, 4L, 0L, 0L)))
  }

  test("hot-shingle cap leaves thresholded output unchanged on real data") {
    val real = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString, r.get(1).toString,
        r.getDouble(2))).toSet
    val uncapped = norm(Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.5))
    val capped = norm(Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.5,
      maxShingleDf = 12))
    assert(capped === uncapped)
    // and the cap actually bites on synthetic boilerplate: one shared hot
    // shingle among otherwise-different docs generates no candidate
    val boiler = (1 to 30).map(i =>
      (i.toLong, s"shared boiler plate unique$i word$i token$i"))
      .toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.01,
      maxShingleDf = 5).count() === 0)
  }

  test("minhashEstimates: exact dup estimates 1.0, estimate tracks exact") {
    val got = Dedup.minhashEstimates(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // identical docs: all 32 components match, exact jaccard 1.0
    assert(got((1L, 4L)) === ((32L, 1.0, 1.0)))
    // near-dup candidates estimate within 0.35 of exact (32 hashes →
    // stderr ≈ sqrt(j(1-j)/32) ≤ 0.09; 0.35 is a 4σ bound)
    got.values.foreach { case (_, est, exact) =>
      assert(math.abs(est - exact) < 0.35, s"est $est vs exact $exact")
    }
  }

  test("containmentPairs: short doc quoted in a long one scores ~1.0") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),                   // 3 shingles
      (2L, "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma"),     // contains 1
      (3L, "totally unrelated words appear in this one here")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      threshold = 0.8).as[(Long, Long, Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    assert(got.head._5 === 1.0) // all 3 of doc 1's shingles appear in doc 2
    // and symmetric Jaccard on the same pair is far below the threshold
    val j = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.0)
      .as[(Long, Long, Double)].collect()
      .find(r => r._1 == 1L && r._2 == 2L).get._3
    assert(j < 0.25, s"jaccard $j should dilute the containment signal")
  }

  test("segmentDedup drops corpus-repeated segments, keeps the rest in order") {
    val d = Seq(
      (1L, "common boiler plate alpha beta gamma"),
      (2L, "common boiler plate delta epsilon zeta"),
      (3L, "common boiler plate eta theta iota"),
      (4L, "unique words only kappa lambda mu")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(d, "doc_id", "text", segTokens = 3, maxDf = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[String])].collect()
    // "common boiler plate" occurs 3 times (> maxDf) → dropped everywhere
    assert(out(0) === ((1L, 2L, 1L, Some("alpha beta gamma"))))
    assert(out(1) === ((2L, 2L, 1L, Some("delta epsilon zeta"))))
    assert(out(3) === ((4L, 2L, 2L, Some("unique words only kappa lambda mu"))))
  }

  test("segmentDedup: a doc losing every segment keeps its row, null text") {
    val d = Seq((1L, "aa bb cc"), (2L, "aa bb cc"), (3L, "aa bb cc"))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(d, "doc_id", "text", segTokens = 3, maxDf = 2)
    assert(out.count() === 3)
    assert(out.filter($"kept_text".isNull && $"n_kept" === 0L).count() === 3)
  }

  test("prefixFilterJoin: completeness vs all-pairs (the prefix-filter " +
    "theorem) and exactness of the verified Jaccard") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now friends"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "quick brown fox jumps over lazy dog")
    ).toDF("doc_id", "text")
    val got = Dedup.prefixFilterJoin(d, "doc_id", "text", 0.6)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    // all-pairs ground truth over the 3-gram shingle sets
    val texts = Map(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "completely different words entirely here now friends",
      4L -> "the quick brown fox jumps over the lazy dog",
      5L -> "quick brown fox jumps over lazy dog")
    val sets = texts.view.mapValues(
      _.split(" ").sliding(3).map(_.mkString(" ")).toSet).toMap
    val truth = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      if j >= 0.6
    } yield (a, b) -> j).toMap
    assert(truth.nonEmpty) // planted: (1,2) 0.75, (1,4) 1.0, (2,4) 0.75
    assert(got === truth)
  }

  test("bloomProbe: no false negatives; novel docs clear a sparse filter") {
    val staged = docs.filter($"doc_id" <= 3L)
    val incoming = docs // 4 is an exact dup of staged 1; 5 is staged itself
    val got = Dedup.bloomProbe(incoming, staged, "doc_id", "text")
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // Bloom guarantee: every exact member is a bloom hit
    assert(got.filter(_._2._2).forall(_._2._1),
      "exact_hit implies bloom_hit (no false negatives)")
    assert(got(4L) === ((true, true)))  // same fingerprint as staged doc 1
    assert(got(1L) === ((true, true)))
    // a genuinely novel doc against a 3-doc filter (9 of 8192 bits set):
    // P[false positive] ≈ (9/8192)^3 — assert the clean verdict
    val novel = Seq((99L, "entirely novel vocabulary nobody used before"))
      .toDF("doc_id", "text")
    val nv = Dedup.bloomProbe(novel, staged, "doc_id", "text")
      .as[(Long, Boolean, Boolean)].collect().head
    assert(nv === ((99L, false, false)))
  }

  test("exactSubstrTrim removes the interval union of shared 8-token runs") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, s"$shared unique1 tail1"),          // shared run at offset 1
      (2L, s"lead2a lead2b $shared tail2"),    // same run at offset 3
      (3L, "nothing here matches any other document at all today ok"),
      (4L, "dupd one two three four five six seven"), // exact dup of 5
      (5L, "dupd one two three four five six seven"),
      (6L, "short doc")                        // under the window width
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrTrim(d, "doc_id", "text", k = 8)
      .as[(Long, Long, Long, Long, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: 10 tokens, ONE duplicated window (pos 1), 8 covered tokens
    assert(got(1L) === ((10L, 1L, 8L, Some("unique1 tail1"))))
    // doc 2: 11 tokens, same single window at pos 3
    assert(got(2L) === ((11L, 1L, 8L, Some("lead2a lead2b tail2"))))
    // doc 3: untouched — zero spans, full text kept
    assert(got(3L)._2 === 0L)
    assert(got(3L)._4 ===
      Some("nothing here matches any other document at all today ok"))
    // docs 4/5: fully covered (exact 8-token dup) → every token trimmed
    assert(got(4L) === ((8L, 1L, 8L, None)))
    assert(got(5L) === ((8L, 1L, 8L, None)))
    // doc 6: shorter than the window — no spans possible, text kept
    assert(got(6L) === ((2L, 0L, 0L, Some("short doc"))))
  }

  test("exactSubstrTrim overlapping windows union, not double-count") {
    // a shared run of 9 tokens → TWO overlapping duplicated windows whose
    // union covers exactly 9 tokens (not 16)
    val run = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val d = Seq(
      (1L, s"$run end1"),
      (2L, s"start2 $run")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrTrim(d, "doc_id", "text", k = 8)
      .as[(Long, Long, Long, Long, Option[String])]
      .collect().map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got(1L) === ((2L, 9L, Some("end1"))))
    assert(got(2L) === ((2L, 9L, Some("start2"))))
  }

  test("incremental cluster maintenance: a batch doc MERGES two settled " +
    "clusters; star + new-new + new-old CC equals full recompute") {
    import org.apache.spark.sql.functions.col
    // settled corpus: two separate near-dup clusters {10,12} and {20,22}
    // (different texts), plus a loner 30. The batch brings 11 — a bridge
    // document similar to BOTH cluster texts — and 13, a twin of 11.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    val bridge = s"$a $b" // contains both shingle sets → joins both
    val corpus = Seq(
      (10L, a), (12L, a + " mu"), (20L, b), (22L, b + " eleven"),
      (30L, "totally unrelated content that matches nothing else at all"))
      .toDF("doc_id", "text")
    val batch = Seq((11L, bridge), (13L, bridge)).toDF("doc_id", "text")
    val all = corpus.unionByName(batch)

    def cc(pairs: org.apache.spark.sql.DataFrame) =
      graft.graph.GraphOps.connectedComponents(spark, pairs)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .as[(Long, Long)].collect().toMap

    // full recompute over the union corpus
    val full = cc(Dedup.minhashLshPairs(all, "doc_id", "text",
      n = 3, numHashes = 32, bands = 32, threshold = 0.3).select("a", "b"))
    // incremental: settled star edges + batch-internal + cross-snapshot
    val settled = cc(Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 32, bands = 32, threshold = 0.3).select("a", "b"))
    val star = settled.toSeq.filter { case (d0, c) => d0 != c }
      .toDF("a", "b")
    val newNew = Dedup.minhashLshPairs(batch, "doc_id", "text",
      n = 3, numHashes = 32, bands = 32, threshold = 0.3).select("a", "b")
    val newOld = crossSnapshot(corpus, batch, bands = 32, threshold = 0.3)
      .select(col("new_id").as("a"), col("old_id").as("b"))
    val inc = cc(star.unionByName(newNew).unionByName(newOld))

    assert(inc === full)
    // the bridge genuinely merged the two settled clusters
    assert(settled(10L) !== settled(20L), "test setup: clusters separate")
    assert(inc(10L) === inc(20L), "bridge doc must merge the clusters")
    assert(inc(11L) === inc(10L) && inc(13L) === inc(10L))
    assert(!inc.contains(30L), "loner stays out of the pair graph")
  }

  test("blocksFor: corpus-derived Manku block count — clamps, monotone " +
      "growth, and exact agreement with the SQL float replica") {
    import math.{ceil, log}
    // tiny corpora clamp to the completeness floor (maxHamming + 1)
    assert(Dedup.blocksFor(1L) == 9 && Dedup.blocksFor(100L) == 9)
    // the three fixture scales: the parameter is LIVE across SFs
    assert(Dedup.blocksFor(500L) == 10)
    assert(Dedup.blocksFor(5000L) == 11)
    // monotone nondecreasing in n, capped at maxBlocks
    val ns = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L,
      1000000000L, 1000000000000L)
    val bs = ns.map(Dedup.blocksFor(_))
    assert(bs == bs.sorted && bs.last == 12)
    // integer form == float ceil(512 / (64 - ceil(log2 n))) for a sweep,
    // including exact powers of two (the SQL replica's risk points)
    for (n <- (1L to 4096L) ++ Seq(1L << 13, 1L << 20, (1L << 20) + 1)) {
      val d = if (n <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
      val fl = math.max(9, math.min(12,
        ceil(512.0 / (64 - math.min(d, 63))).toInt))
      assert(Dedup.blocksFor(n) == fl, s"n=$n")
    }
    // every derived count satisfies the completeness precondition
    ns.foreach(n => Dedup.mankuLayout(64, Dedup.blocksFor(n), 8))
  }

  test("mankuParamsFor: the table-count CEILING binds — C(blocks, k) ≤ 512 " +
      "at EVERY corpus size, the guaranteed radius degrades as n grows " +
      "(never the table count exploding), and small-n agrees with the " +
      "uncapped derivation") {
    // at the three fixture scales the ceiling never binds: full radius 8,
    // blocks identical to the uncapped law (the registered queries'
    // results are unchanged by the cap)
    assert(Dedup.mankuParamsFor(50L) == (9, 8))
    assert(Dedup.mankuParamsFor(500L) == (10, 8))
    assert(Dedup.mankuParamsFor(5000L) == (11, 8))
    for (n <- Seq(50L, 500L, 5000L))
      assert(Dedup.mankuParamsFor(n)._1 == Dedup.blocksFor(n, maxBlocks = 64))
    // the documented large-n trade: radius 8 → 5 at 10⁹ docs with 252
    // tables — NOT the uncapped law's C(16,8) = 12,870-table family
    assert(Dedup.mankuParamsFor(1000000000L) == (10, 5))
    assert(Dedup.binom(10, 5) == 252L)
    // invariants over a 2^x sweep to absurd corpus sizes: ceiling holds,
    // completeness precondition holds, key width keeps per-table
    // candidate volume ~n (the original sizing argument), radius is
    // monotone NON-INCREASING in n
    val sweep = (1 to 60).map(x => 1L << x)
    val params = sweep.map(Dedup.mankuParamsFor(_))
    params.foreach { case (b, k) =>
      assert(Dedup.binom(b, k) <= 512L, s"ceiling violated at ($b, $k)")
      Dedup.mankuLayout(64, b, k) // throws if blocks ≤ maxHamming
    }
    sweep.zip(params).foreach { case (n, (b, k)) =>
      val d = if (n <= 1L) 1
        else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
      val dd = math.min(d, 63)
      val needed = (64 * k + (64 - dd) - 1) / (64 - dd)
      assert(b >= needed,
        s"key-width sizing violated at n=$n: ($b, $k) wants ≥ $needed blocks")
    }
    val radii = params.map(_._2)
    assert(radii.zip(radii.tail).forall { case (a, c) => c <= a },
      "guaranteed radius must degrade monotonically with n")
    // binom exactness spot checks (the SQL replica computes these via
    // float list products and rounds — they must be unambiguous)
    assert(Dedup.binom(16, 8) == 12870L && Dedup.binom(12, 4) == 495L &&
      Dedup.binom(11, 8) == 165L && Dedup.binom(64, 1) == 64L)
  }
}
