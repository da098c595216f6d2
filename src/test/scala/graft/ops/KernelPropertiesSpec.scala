package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.core.ColFns

/** Algebraic property tests (SURVEY §5 strategy c): dedup idempotence,
  * set-union merge commutativity/associativity, canonical-pair symmetry.
  * Drives ScalaCheck generators directly (fixed seed → reproducible) since
  * only scalatest + scalacheck are on the test classpath. */
class KernelPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int = 12): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString)
  private val pipes = Gen.listOfN(4, word).map(_.mkString("|"))
  private val maybePipes = Gen.option(pipes)

  private def mergeTwo(x: Option[String], y: Option[String]): Option[String] =
    Seq((x, y)).toDF("x", "y")
      .select(ColFns.mergePipes(col("x"), col("y"))).as[Option[String]]
      .collect().head

  test("mergePipes is commutative and idempotent (A4/A5 set semantics)") {
    samples(Gen.zip(maybePipes, maybePipes)).foreach { case (x, y) =>
      assert(mergeTwo(x, y) === mergeTwo(y, x), s"not commutative on $x, $y")
    }
    samples(maybePipes).foreach { x =>
      val once = mergeTwo(x, None)
      assert(mergeTwo(once, once) === once, s"not idempotent on $x")
    }
  }

  test("canonical pair is symmetric and stable (D2)") {
    samples(Gen.zip(Gen.choose(0L, 1000L), Gen.choose(0L, 1000L))).foreach {
      case (a, b) =>
        val r = Seq((a, b), (b, a)).toDF("a", "b")
          .select(ColFns.canonicalU(col("a"), col("b")),
            ColFns.canonicalV(col("a"), col("b")))
          .as[(Long, Long)].collect()
        assert(r(0) === r(1))
        assert(r(0)._1 <= r(0)._2)
    }
  }

  test("keepBestPerKey is idempotent") {
    val rows = Gen.listOfN(30,
      Gen.zip(Gen.oneOf("k1", "k2", "k3"), Gen.choose(0, 100), Gen.choose(0L, 5000L)))
    samples(rows, n = 6).filter(_.nonEmpty).foreach { rs =>
      val df = rs.toDF("k", "score", "id")
      val order = Seq(col("score").desc, col("id").asc)
      val once = Kernels.keepBestPerKey(df, Seq("k"), order)
      val twice = Kernels.keepBestPerKey(once, Seq("k"), order)
      assert(once.collect().toSet === twice.collect().toSet)
    }
  }

  test("undirectedDedup output has no unordered-pair duplicates") {
    val rows = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L), Gen.choose(0, 100),
        Gen.choose(0L, 9999L)))
    samples(rows, n = 6).filter(_.nonEmpty).foreach { rs =>
      val df = rs.toDF("a", "b", "score", "id")
      val out = Kernels.undirectedDedup(df, "a", "b",
        Seq(col("score").desc, col("id").asc, col("a").asc, col("b").asc))
        .select("a", "b").as[(Long, Long)].collect()
      val canon = out.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      assert(canon.distinct.length === canon.length)
    }
  }

  test("admitUnlessBoth rejects only groups holding both markers (P9)") {
    val df = Seq(
      (1L, Seq("increases")), (2L, Seq("increases", "decreases")),
      (3L, Seq("decreases", "other")), (4L, Seq.empty[String]))
      .toDF("id", "effects")
    val kept = df.filter(
      Kernels.admitUnlessBoth(col("effects"), "increases", "decreases"))
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("idBase strips version and bracket suffixes (F2)") {
    val got = Seq("ENST0001.5", "ENST0002 [note]", "ENST0003")
      .toDF("x").select(ColFns.idBase(col("x"))).as[String].collect().toSeq
    assert(got === Seq("ENST0001", "ENST0002", "ENST0003"))
  }

  test("effectMergePair: symmetric, idempotent, and agrees with the aggregate fold") {
    val domain = Gen.option(Gen.oneOf("Activation", "Repression", "Unknown"))
    val pairs = samples(Gen.zip(domain, domain), 24)
    def pairwise(x: Option[String], y: Option[String]): Option[String] =
      Seq((x, y)).toDF("x", "y")
        .select(Kernels.effectMergePair(col("x"), col("y")))
        .as[Option[String]].head()
    def aggregate(x: Option[String], y: Option[String]): Option[String] =
      Seq(("k", x), ("k", y)).toDF("k", "v").groupBy($"k")
        .agg(Kernels.effectFold($"v").as("e"))
        .select($"e").as[Option[String]].head()
    pairs.foreach { case (x, y) =>
      val m = pairwise(x, y)
      assert(m === pairwise(y, x), s"not symmetric on ($x, $y)")
      assert(pairwise(x, x) === x, s"not idempotent on $x")
      assert(m === aggregate(x, y),
        s"pairwise($x, $y)=$m disagrees with the aggregate fold")
    }
  }

  test("asOfJoinNearest equals the naive min-|Δ| pick on random event sets") {
    import java.sql.Timestamp
    val row = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L))
    for (i <- 0 until 6) {
      val ls = samples(Gen.listOfN(12, row), 1).head.zipWithIndex
        .map { case ((k, t), j) => (k, new Timestamp(t * 1000), s"l$j") }
      val rs = samples(Gen.listOfN(10, row), 1).head
        // nearest-asof determinism contract: right unique per (key, time)
        .distinctBy(r => (r._1, r._2)).zipWithIndex
        .map { case ((k, t), j) => (k, new Timestamp(t * 1000), s"r$j") }
      val left = ls.toDF("k", "t", "lv")
      val right = rs.toDF("k", "t", "rv")
      val got = TemporalJoins.asOfJoinNearest(left, right, "k", "t")
        .select("lv", "rv").as[(String, String)].collect().toMap
      // reference picks min (|Δ|, backward-preferred, earlier t) per left row
      val expected = ls.map { case (k, t, lv) =>
        val cands = rs.filter(_._1 == k)
        if (cands.isEmpty) lv -> null
        else lv -> cands.minBy { case (_, rt, _) =>
          val d = math.abs(rt.getTime - t.getTime)
          (d, rt.getTime) // earlier right row wins a distance tie
        }._3
      }.toMap
      assert(got === expected, s"iteration $i")
    }
  }

  test("binnedGroupRank / binnedGroupRunningSum equal the per-group window " +
    "forms on random (group, bin, value) sets") {
    import org.apache.spark.sql.expressions.Window
    val row = Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 4L),
      Gen.choose(1L, 9L))
    for (i <- 0 until 5) {
      val rows = samples(Gen.listOfN(40, row), 1).head.zipWithIndex
        .map { case ((g, q, v), j) => (j.toLong, s"g$g", q, v) }
      val df = rows.toDF("k", "g", "q", "v")
      val rk = Scale.binnedGroupRank(df, Seq(col("g")), col("q"),
        Seq(col("q").asc, col("k").asc), binAsc = true, "r")
        .select($"k", $"r".cast("long")).as[(Long, Long)].collect().toMap
      val rkRef = df.select($"k", row_number().over(Window.partitionBy($"g")
          .orderBy($"q".asc, $"k".asc)).cast("long").as("r"))
        .as[(Long, Long)].collect().toMap
      assert(rk === rkRef, s"rank iteration $i")
      val rs = Scale.binnedGroupRunningSum(df, Seq(col("g")), col("q"),
        Seq(col("k").asc), col("v"), binAsc = false, "run")
        .select($"k", $"run").as[(Long, Long)].collect().toMap
      val rsRef = df.select($"k", sum($"v").over(Window.partitionBy($"g")
          .orderBy($"q".desc, $"k".asc)
          .rowsBetween(Window.unboundedPreceding, 0)).as("run"))
        .as[(Long, Long)].collect().toMap
      assert(rs === rsRef, s"runsum iteration $i")
    }
  }

  test("mergeAggState is associative and order-free " +
    "((a ⊎ b) ⊎ c = a ⊎ (b ⊎ c) = one-shot)") {
    val rows = Gen.listOfN(8, Gen.zip(Gen.choose(1L, 3L), Gen.choose(-5L, 20L)))
    def merge(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      graft.sources.Sinks.mergeAggState(x, y, Seq("k"), Seq("s"))
    for (i <- 0 until 4) {
      val Seq(a, b, c) = (0 until 3).map { j =>
        rows.apply(Gen.Parameters.default, Seed(100L + i * 3 + j))
          .get.toDF("k", "s")
      }
      val left = merge(merge(a, b), c).as[(Long, Long)].collect().toSet
      val rightAssoc = merge(a, merge(b, c)).as[(Long, Long)].collect().toSet
      val oneShot = a.unionByName(b).unionByName(c)
        .groupBy($"k").agg(sum($"s").as("s"))
        .as[(Long, Long)].collect().toSet
      assert(left === rightAssoc && left === oneShot, s"iteration $i")
    }
  }

  test("decayScore halves every weight when one newer event arrives " +
    "(the dyadic shift law)") {
    import java.sql.Timestamp
    val vals = samples(Gen.listOfN(5, Gen.choose(1, 100)), 1).head
    val base = vals.zipWithIndex.map { case (v, j) =>
      (j.toLong, new Timestamp(1000L * (j + 1)), 1L, v.toDouble)
    }
    def score(rows: Seq[(Long, Timestamp, Long, Double)]): Long =
      graft.streaming.EventStreams
        .decayScore(rows.toDF("event_id", "ts", "user_id", "value"), w = 16)
        .select($"decay_q").as[Long].head()
    val s0 = score(base)
    // append one strictly-newer zero-value event: every existing weight
    // doubles its exponent distance → total halves exactly (integer, since
    // all original weights were ≥ 2 with w=16 and 6 events)
    val s1 = score(base :+
      (99L, new Timestamp(1000L * 100), 1L, 0.0))
    assert(s1 * 2 === s0, s"s0=$s0 s1=$s1")
  }

  test("rrfFuse is symmetric in its two rankers (IEEE a+b == b+a) and " +
    "dual-listed candidates dominate their single-list selves") {
    val rankList = Gen.listOfN(6,
      Gen.zip(Gen.choose(1L, 3L), Gen.choose(1L, 30L)))
      .map(_.distinct.groupBy(_._1).toSeq.flatMap { case (q, nbs) =>
        nbs.map(_._2).distinct.zipWithIndex.map { case (nb, i) =>
          (q, (i + 1).toLong, nb)
        }
      })
    samples(Gen.zip(rankList, rankList), n = 8).foreach { case (la, lb) =>
      val a = la.toDF("vec_id", "rank", "neighbor")
      val b = lb.toDF("vec_id", "rank", "neighbor")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Long, Double)].collect().toSet
      val ab = rows(graft.sim.Similarity.rrfFuse(a, b, k = 50))
      val ba = rows(graft.sim.Similarity.rrfFuse(b, a, k = 50))
      assert(ab === ba)
      // a candidate present in BOTH lists scores the sum of its two
      // single-list contributions — strictly above either alone
      val aOnly = rows(graft.sim.Similarity.rrfFuse(a,
        Seq.empty[(Long, Long, Long)].toDF("vec_id", "rank", "neighbor"),
        k = 50)).map(r => (r._1, r._3) -> r._4).toMap
      val bOnly = rows(graft.sim.Similarity.rrfFuse(b,
        Seq.empty[(Long, Long, Long)].toDF("vec_id", "rank", "neighbor"),
        k = 50)).map(r => (r._1, r._3) -> r._4).toMap
      ab.foreach { case (q, _, nb, s) =>
        val ea = aOnly.getOrElse((q, nb), 0.0)
        val eb = bOnly.getOrElse((q, nb), 0.0)
        assert(s === ea + eb, s"($q,$nb)")
      }
    }
  }

  test("snapshot DML ≡ relational baseline for random bands and moduli: " +
      "deleteWhere is the NOT-filter, updateWhere the CASE projection, " +
      "whatever the stats pruning decides to rewrite") {
    import graft.sources.SnapshotTable
    val rows = (0L until 100L).map(k =>
      (k, k * 1.5, if (k % 2 == 0) "a" else "b")).toDF("k", "price", "p")
    val bands = samples(for {
      lo <- Gen.choose(0L, 80L); w <- Gen.choose(0L, 40L)
      m <- Gen.choose(2L, 5L); r <- Gen.choose(0L, 1L)
    } yield (lo, lo + w, m, r), n = 6)
    bands.foreach { case (lo, hi, m, r) =>
      val dir = scratch("graft-dml-prop")
      SnapshotTable.overwriteClustered(spark, dir, rows, "p",
        statsCols = Seq("k"), rangeFiles = 8)
      // the predicate's support is INSIDE the declared band — the caller
      // contract pruneRange requires
      val pred = col("k").between(lo, hi) && col("k") % m === r
      SnapshotTable.deleteWhere(spark, dir, pred, "p",
        pruneRange = Some(("k", lo, hi)))
      val gotDel = SnapshotTable.read(spark, dir)
        .select("k").as[Long].collect().toSet
      val wantDel = rows.filter(!(col("k").between(lo, hi) && col("k") % m === r))
        .select("k").as[Long].collect().toSet
      assert(gotDel == wantDel, s"delete band [$lo,$hi] % $m == $r")
      SnapshotTable.updateWhere(spark, dir, col("k").between(lo, hi),
        Seq("price" -> (col("price") + 1000)), "p",
        pruneRange = Some(("k", lo, hi)))
      val gotUpd = SnapshotTable.read(spark, dir)
        .select("k", "price").as[(Long, Double)].collect().toMap
      val wantUpd = rows
        .filter(!(col("k").between(lo, hi) && col("k") % m === r))
        .select(col("k"),
          when(col("k").between(lo, hi), col("price") + 1000)
            .otherwise(col("price")).as("price"))
        .as[(Long, Double)].collect().toMap
      assert(gotUpd == wantUpd, s"update band [$lo,$hi]")
    }
  }

  test("SQL DELETE ≡ Spark-filter baseline over a random predicate " +
      "grammar — whatever pruneRange the front door derives (band-led " +
      "conjunctions prune, disjunctions and NOTs must not corrupt)") {
    import graft.sources.{SnapshotSql, SnapshotTable}
    val rows = (0L until 100L).map(k =>
      (k, k * 1.5, if (k % 2 == 0) "a" else "b")).toDF("k", "price", "p")
    // grammar: k BETWEEN lo AND hi [<glue> <extra>] where glue ∈
    // {AND, OR} and extra ∈ {k % m = r, NOT (k % m = r), price > c}
    val cases = samples(for {
      lo <- Gen.choose(0L, 80L); w <- Gen.choose(0L, 40L)
      glue <- Gen.oneOf("", "AND", "OR")
      m <- Gen.choose(2L, 5L); r <- Gen.choose(0L, 1L)
      extra <- Gen.oneOf(s"k % $m = $r", s"NOT (k % $m = $r)",
        s"price > ${lo * 1.5}")
    } yield (lo, lo + w, glue, extra), n = 10)
    cases.foreach { case (lo, hi, glue, extra) =>
      val where = s"k BETWEEN $lo AND $hi" +
        (if (glue.isEmpty) "" else s" $glue $extra")
      val dir = scratch("graft-sqldel-prop")
      SnapshotTable.overwriteClustered(spark, dir, rows, "p",
        statsCols = Seq("k"), rangeFiles = 8)
      SnapshotSql.exec(spark, s"DELETE FROM snap('$dir') WHERE $where")
      val got = SnapshotTable.read(spark, dir)
        .select("k").as[Long].collect().toSet
      val want = rows.filter(!coalesce(expr(where), lit(false)))
        .select("k").as[Long].collect().toSet
      assert(got == want,
        s"WHERE $where")
    }
  }
}
