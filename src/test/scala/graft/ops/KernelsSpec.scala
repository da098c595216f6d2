package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.ColFns

/** Golden semantics from FIXTURES.md §2 / SURVEY.md §7.3: each kernel must
  * reproduce the reference's (order-sensitive) behavior deterministically. */
class KernelsSpec extends SparkSpec {
  import spark.implicits._

  test("keepBestPerKey keeps arg-max with deterministic tie-break") {
    val df = Seq(
      ("k1", 1.0, "a"), ("k1", 3.0, "b"), ("k1", 3.0, "c"),
      ("k2", 2.0, "d")).toDF("k", "score", "tag")
    val got = Kernels.keepBestPerKey(df, Seq("k"),
      Seq(col("score").desc, col("tag").asc))
      .select("k", "tag").as[(String, String)].collect().toSet
    // tie at 3.0 broken by tag asc → "b"
    assert(got === Set(("k1", "b"), ("k2", "d")))
  }

  test("undirectedDedup treats (a,b)≡(b,a) and preserves winner orientation") {
    // reference: ppi.py:142 — frozenset key, keep best-scored first,
    // output row keeps its ORIGINAL orientation (SURVEY §7.3 risk 2)
    val df = Seq(
      ("P2", "P1", 0.9, 1), // winner, reversed orientation
      ("P1", "P2", 0.5, 2),
      ("P3", "P4", 0.7, 3)).toDF("a", "b", "score", "id")
    val got = Kernels.undirectedDedup(df, "a", "b",
      Seq(col("score").desc, col("id").asc))
      .select("a", "b", "score").as[(String, String, Double)].collect().toSet
    assert(got === Set(("P2", "P1", 0.9), ("P3", "P4", 0.7)))
  }

  test("undirectedDedup extraKeys keeps one row per (pair, extra)") {
    val df = Seq(
      ("P1", "P2", "phys", 0.9), ("P2", "P1", "phys", 0.5),
      ("P2", "P1", "genetic", 0.4)).toDF("a", "b", "kind", "score")
    val got = Kernels.undirectedDedup(df, "a", "b",
      Seq(col("score").desc), extraKeys = Seq("kind"))
    assert(got.count() === 2)
  }

  test("orderedMiddle takes upper middle on even counts (drug.py:1377-1387)") {
    val df = Seq(("k", 1.0), ("k", 2.0), ("k", 3.0), ("k", 4.0),
      ("o", 1.0), ("o", 5.0), ("o", 9.0)).toDF("k", "v")
    val got = df.groupBy($"k").agg(Kernels.orderedMiddle($"v").as("m"))
      .as[(String, Double)].collect().toMap
    assert(got("k") === 3.0) // len 4 → index 4/2 = 2 (0-based) → 3.0
    assert(got("o") === 5.0)
  }

  test("median3 rounds exact median to 3 dp (compound.py:461-462)") {
    val df = Seq(("k", 1.0), ("k", 2.0), ("k", 4.0), ("k", 8.0)).toDF("k", "v")
    val got = df.groupBy($"k").agg(Kernels.median3($"v").as("m"))
      .as[(String, Double)].collect().toMap
    assert(got("k") === 3.0) // (2+4)/2
  }

  test("conflictFold nulls conflicted groups (drug.py:902-915)") {
    val df = Seq(("g1", "inhibitor"), ("g1", "inhibitor"),
      ("g2", "inhibitor"), ("g2", "agonist")).toDF("k", "v")
    val got = df.groupBy($"k").agg(Kernels.conflictFold($"v").as("a"))
    assert(got.filter($"a".isNotNull).as[(String, String)].collect().toSet
      === Set(("g1", "inhibitor")))
  }

  test("effectFold: Unknown defers, real conflicts drop (tf_gen.py:381-395)") {
    val df = Seq(
      ("g1", "Activation"), ("g1", "Unknown"),
      ("g2", "Repression"),
      ("g3", "Activation"), ("g3", "Repression"),
      ("g4", "Activation"), ("g4", "Repression"), ("g4", "Unknown"))
      .toDF("k", "v")
    val got = df.groupBy($"k").agg(Kernels.effectFold($"v").as("e"))
      .as[(String, Option[String])].collect().toMap
    assert(got("g1") === Some("Activation"))
    assert(got("g2") === Some("Repression"))
    assert(got("g3") === None)
    assert(got("g4") === None)
  }

  test("mergePipesAgg splits, dedups, sorts, rejoins (compound.py:492-501)") {
    val df = Seq(("k", "b|a"), ("k", "a|c"), ("k", null))
      .toDF("k", "src")
    val got = df.groupBy($"k").agg(Kernels.mergePipesAgg($"src").as("m"))
      .as[(String, String)].collect().toMap
    assert(got("k") === "a|b|c")
  }

  test("mergePipesAgg: all-null group → null (A5 empty→NaN)") {
    val df = Seq(("k", Option.empty[String])).toDF("k", "src")
    val got = df.groupBy($"k").agg(Kernels.mergePipesAgg($"src").as("m"))
      .as[(String, Option[String])].collect().toMap
    assert(got("k") === None)
  }

  test("setJoinAgg / sortedFoldAgg are sorted and deterministic") {
    val df = Seq(("k", "b"), ("k", "a"), ("k", "b")).toDF("k", "v")
    val got = df.groupBy($"k").agg(
      Kernels.setJoinAgg($"v").as("s"),
      Kernels.sortedFoldAgg($"v").as("f"))
      .as[(String, String, String)].collect().head
    assert(got._2 === "a|b")
    assert(got._3 === "a;b;b")
  }

  test("fallbackMap resolves in priority order (disease.py:1631-1654)") {
    val df = Seq(("x", 1), ("y", 2), ("z", 3)).toDF("id", "key")
    val m1 = Seq((1, "FIRST-1")).toDF("from_id", "to_id")
    val m2 = Seq((1, "SECOND-1"), (2, "SECOND-2")).toDF("from_id", "to_id")
    val m3 = Seq((3, "THIRD-3")).toDF("from_id", "to_id")
    val got = Kernels.fallbackMap(df, col("key"), Seq(m1, m2, m3))
      .select("id", "resolved").as[(String, String)].collect().toMap
    assert(got === Map("x" -> "FIRST-1", "y" -> "SECOND-2", "z" -> "THIRD-3"))
  }

  test("outerMergeChain merges keys, coalesces left-first, unions pipe cols") {
    val a = Seq(("k1", "va", "s1|s2")).toDF("k", "value", "source")
    val b = Seq(("k1", "vb", "s2|s3"), ("k2", "vb2", "s4")).toDF("k", "value", "source")
    val c = Seq(("k3", "vc", "s5")).toDF("k", "value", "source")
    val got = Kernels.outerMergeChain(Seq(a, b, c), Seq("k"), pipeCols = Set("source"))
      .orderBy("k")
      .as[(String, String, String)].collect()
    assert(got.toSeq === Seq(
      ("k1", "s1|s2|s3", "va"),   // left-priority value, set-union source
      ("k2", "s4", "vb2"),
      ("k3", "s5", "vc")))
  }

  test("ColFns: curie / commaLong / stripXrefs / mergePipes") {
    val df = Seq(("P1", "53,651", "a;b; ;", "x|y", null: String))
      .toDF("id", "mass", "xrefs", "p1", "p2")
    val got = df.select(
      ColFns.curie("UniProt", $"id").as("c"),
      ColFns.commaLong($"mass").as("m"),
      ColFns.stripXrefs($"xrefs").as("x"),
      ColFns.mergePipes($"p1", $"p2").as("mp"))
      .collect().head
    assert(got.getString(0) === "uniprot:P1")
    assert(got.getLong(1) === 53651L)
    assert(got.getSeq[String](2) === Seq("a", "b"))
    assert(got.getString(3) === "x|y")
  }
}
