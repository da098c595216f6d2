package graft.pipelines

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** SURVEY §7.3.8: the reference ships five known bugs the engine must NOT
  * replicate — each deviation is pinned here with the reference file:line
  * it departs from, so a refactor can't silently re-introduce (or silently
  * "fix" the one quirk that is deliberately reproduced).
  */
class ReferenceDeviationsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("go.py:483 self.self AttributeError: domain→GO edges ARE emitted") {
    // the reference gates its domain-GO branch on
    // `self.self.domain_to_go_edge_types` — an AttributeError the moment
    // the edge type is requested, so that path can never produce a row.
    // Intended semantics: protein-domain → GO term edges exist.
    val dg = GoPipeline.edges(spark, sf)
      .filter(col("src").startsWith("interpro:"))
    assert(dg.count() > 0, "domain→GO edge branch emitted nothing")
    assert(dg.filter(!col("dst").startsWith("go:")).count() === 0)
  }

  test("disease.py:1441/1482 df.to_csv(df,...): the CSV sink actually " +
    "round-trips the frame") {
    // the reference passes the DataFrame itself as to_csv's path argument
    // (both the mondo-hierarchy and organism-disease exports), so neither
    // file is ever written. Intended semantics: the export lands on disk
    // and reads back equal.
    val dir = java.nio.file.Paths.get(scratch("graft-dev-csv"))
    try {
      val edges = DiseaseEdgesPipeline.ddaMerged(spark, sf)
        .select("disease_id1", "disease_id2", "source")
      graft.sources.Sinks.chunkedCsv(edges, dir.toString)
      val back = spark.read.option("header", "true").csv(dir.toString)
      assert(back.count() === edges.count(), "CSV round trip lost rows")
      assert(back.columns.toSeq === edges.columns.toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("side_effect.py:363-366 swapped guards: each builder carries its " +
    "own semantics") {
    // the reference's HIERARCHICAL flag runs get_drug_side_effect_edges
    // and its DRUG_TO_SIDE_EFFECT flag runs the hierarchy builder —
    // requesting one edge type yields the other. The engine wires each
    // builder to its own output shape:
    val dse = SideEffectPipeline.merged(spark, sf)
    assert(dse.filter(!col("drugbank_id").startsWith("drugbank:DB")).count() === 0,
      "drug–side-effect rows must be drug-keyed")
    val hier = SideEffectPipeline.hierarchyEdges(spark, sf)
    assert(hier.filter(col("label") =!= "side_effect_is_a_side_effect").count() === 0)
    assert(hier.filter(!col("src").startsWith("meddra:") ||
      !col("dst").startsWith("meddra:")).count() === 0,
      "hierarchy rows must be meddra→meddra")
    // and the hierarchy's both-ends-mapped guard (side_effect.py:411)
    // really drops unmapped ends: no child or parent with ck%4=0 appears
    val unmapped = hier.filter(
      (regexp_extract(col("src"), "meddra:(\\d+)", 1).cast("long") % 4 === 0) ||
        (regexp_extract(col("dst"), "meddra:(\\d+)", 1).cast("long") % 4 === 0))
    assert(unmapped.count() === 0)
  }

  test("phenotype.py:219 / disease.py:1388 early-stopping off-by-one: " +
    "limit(n) emits exactly n") {
    // both reference counters check AFTER appending (`index >= N` at
    // phenotype.py:219, `index == N` at disease.py:1388), emitting N+1
    // rows — and the `==` form can overshoot past N entirely when the
    // guard sits inside a conditional branch. The engine's truncation is
    // Spark's limit: exactly n, regardless of data order.
    assert(PhenotypePipeline.edges(spark, sf).limit(5).count() === 5)
    assert(DiseaseEdgesPipeline.diseaseNodes(spark, sf).limit(7).count() === 7)
  }

  test("pathway.py:697-698 Reactome orthology pairs keep the reference's " +
    "kegg.pathway prefix (deliberate quirk reproduction)") {
    // the reference CURIE-prefixes BOTH sources of orthology pairs with
    // kegg.pathway — including Reactome-derived R-HSA/R-MMU ids. This is
    // its observable output contract, so the engine reproduces it AS IS
    // (documented in PathwayPipeline.orthologyPairs) rather than "fixing"
    // it to reactome: — pin that choice.
    val pairs = PathwayPipeline.orthologyPairs(spark, sf)
    val reactomeShaped = pairs.filter(col("src").contains(":R-"))
    assert(reactomeShaped.count() > 0)
    assert(reactomeShaped.filter(!col("src").startsWith("kegg.pathway:"))
      .count() === 0, "reactome-derived pairs must keep the reference's " +
      "kegg.pathway prefix")
    assert(pairs.filter(col("src").startsWith("reactome:")).count() === 0)
  }
}
