package graft.pipelines

import org.apache.spark.sql.types._
import graft.SparkSpec

/** Cross-pipeline emit checks: schema-conformed edges and the typed graph. */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("DtiPipeline.edges conforms to the registry drug_targets_protein shape") {
    val e = DtiPipeline.edges(spark, sf)
    assert(e.columns.toSeq ===
      Seq("rel_id", "src", "dst", "label", "source", "refs", "pchembl",
        "direct_interaction"))
    assert(e.schema("refs").dataType === ArrayType(StringType))
    assert(e.schema("direct_interaction").dataType === BooleanType)
    val row = e.filter($"pchembl".isNotNull).head()
    assert(row.getAs[String]("src").startsWith("drugbank:DB"))
    assert(row.getAs[String]("label") === "drug_targets_protein")
  }

  test("PpiPipeline.typedGraph yields typed Node/Edge datasets sharing one merge") {
    val (nodes, edges) = PpiPipeline.typedGraph(spark, sf)
    val n = nodes.collect()
    val e = edges.collect()
    assert(n.nonEmpty && e.nonEmpty)
    assert(n.forall(_.label == "protein"))
    assert(e.forall(_.label == "protein_interacts_with_protein"))
    // every edge endpoint is an emitted node
    val ids = n.map(_.id).toSet
    assert(e.forall(x => ids.contains(x.src) && ids.contains(x.dst)))
  }

  test("GeneDiseasePipeline.merged: every row names at least one source") {
    val m = GeneDiseasePipeline.merged(spark, sf)
    assert(m.filter($"source".isNull || $"source" === "").count() === 0)
    assert(m.count() > 0)
  }

  test("TfGenPipeline.merged: no conflicting effects survive, sources merge") {
    val m = TfGenPipeline.merged(spark, sf).cache()
    assert(m.count() > 0)
    // dropna contract: every surviving row has a resolved effect
    assert(m.filter($"tf_effect".isNull).count() === 0)
    assert(m.filter(!$"tf_effect".isin("Activation", "Repression", "Unknown"))
      .count() === 0)
    // at least one row integrates two sources (pipe-merged)
    assert(m.filter($"source".contains("|")).count() > 0)
    m.unpersist()
  }

  test("effectMergePair resolves the reference's conflict table") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      (Option("Activation"), Option("Activation"), Option("Activation")),
      (Option("Activation"), None, Option("Activation")),
      (Option("Unknown"), Option("Repression"), Option("Repression")),
      (Option("Activation"), Option("Repression"), Option.empty[String]),
      (Option.empty[String], Option.empty[String], Option.empty[String]))
      .toDF("x", "y", "expect")
    val got = cases.select(
      graft.ops.Kernels.effectMergePair(col("x"), col("y")).as("got"),
      col("expect")).collect()
    got.foreach(r => assert(r.get(0) === r.get(1), r.toString))
  }

  test("keep-best contract of PpiPipeline.merged and SideEffectPipeline." +
      "merged: over an ordering struct a null component sorts first, NaN " +
      "last, and a struct the outer when nulls whole is skipped") {
    import org.apache.spark.sql.functions._
    // (group, in slice, ordering score, value); the out-of-slice row has
    // the smallest score of its group and must never win
    val rows = Seq[(String, Boolean, Option[Double], String)](
      ("nullFirst", true, Some(1.0), "one"),
      ("nullFirst", true, None, "null"),
      ("nullFirst", true, Some(Double.NaN), "nan"),
      ("nanLast", true, Some(Double.NaN), "nan"),
      ("nanLast", true, Some(Double.MaxValue), "max"),
      ("skipped", false, Some(-5.0), "out"),
      ("skipped", true, Some(3.0), "three"),
      ("allSkipped", false, Some(-5.0), "out"))
      .toDF("g", "in", "score", "v")
    val in = col("in")
    val got = rows.groupBy("g").agg(
      // PpiPipeline.merged's shape
      min_by(when(in, col("v")), when(in, struct(col("score"), col("v"))))
        .as("by"),
      // SideEffectPipeline.merged's firstOf shape
      min(when(in, struct(col("score"), col("v").as("v")))).getField("v")
        .as("first"))
      .as[(String, String, String)].collect()
      .map { case (g, by, first) => g -> (Option(by), Option(first)) }.toMap
    val want = Map("nullFirst" -> Some("null"), "nanLast" -> Some("max"),
      "skipped" -> Some("three"), "allSkipped" -> None)
    assert(got === want.map { case (g, v) => g -> (v, v) })
  }

  test("SideEffectPipeline: non-numeric meddra ids drop, sources pipe-merge") {
    val m = SideEffectPipeline.merged(spark, sf).cache()
    assert(m.count() > 0)
    // every key is unique after the per-source dedup + merge
    assert(m.groupBy($"drugbank_id", $"meddra_id").count()
      .filter($"count" > 1).count() === 0)
    // the isnumeric admission did its job: no 'M'-prefixed ids anywhere
    assert(m.filter($"meddra_id".startsWith("M")).count() === 0)
    assert(m.filter($"source".contains("|")).count() > 0)
    m.unpersist()
  }

  test("EcPipeline: four node levels, child-parent edges per level") {
    val n = EcPipeline.nodes(spark, sf).cache()
    val dots = n.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.split($"id", "\\.")).as("parts"))
      .distinct().as[Int].collect().toSet
    assert(dots === Set(1, 2, 3, 4))
    val e = EcPipeline.edges(spark, sf)
    // every child edge strips exactly one dotted component
    assert(e.filter(!org.apache.spark.sql.functions
      .expr("src LIKE dst || '.%'")).count() === 0)
    n.unpersist()
  }

  test("PhenotypePipeline: three edge types, hierarchy is a 10-ary tree") {
    val e = PhenotypePipeline.edges(spark, sf).cache()
    val labels = e.select($"label").distinct().as[String].collect().toSet
    assert(labels === Set("protein_is_associated_with_phenotype",
      "phenotype_is_a_phenotype", "phenotype_is_associated_with_disease"))
    assert(e.filter($"label" === "phenotype_is_associated_with_disease")
      .filter($"pubmed_ids".isNull).count() === 0)
    e.unpersist()
  }

  test("GoPipeline: IEA drops, labels compose qualifier+aspect, 3 aspects") {
    val e = GoPipeline.edges(spark, sf).cache()
    assert(e.filter($"evidence_code" === "IEA").count() === 0)
    val labels = e.select($"label").distinct().as[String].collect()
    assert(labels.exists(_.startsWith("protein_enables_")))
    assert(labels.exists(_.startsWith("protein_involved_in_")))
    assert(labels.exists(_.startsWith("protein_domain_")))
    assert(labels.exists(_.contains("_is_a_")) || labels.exists(_.contains("_part_of_")))
    val n = GoPipeline.nodes(spark, sf)
    assert(n.select($"label").distinct().as[String].collect().toSet ===
      Set("biological process", "molecular function", "cellular component"))
    e.unpersist()
  }

  test("DomainPipeline: 4-ary hierarchy lists are mutually consistent") {
    val n = DomainPipeline.nodes(spark, sf).cache()
    val byId = n.collect().map(r => r.getAs[String]("id") -> r).toMap
    // every child_list member points back via its parent_list
    byId.values.foreach { r =>
      Option(r.getAs[String]("child_list")).foreach(_.split("\\|").foreach {
        c => assert(byId(c).getAs[String]("parent_list") === r.getAs[String]("id"))
      })
    }
    val e = DomainPipeline.edges(spark, sf)
    assert(e.filter($"label" =!= "Has").count() === 0)
    assert(e.filter($"locations".isNull).count() === 0)
    n.unpersist()
  }

  test("PathwayPipeline: ortho pairs are directed both ways, cross-organism") {
    val p = PathwayPipeline.orthologyPairs(spark, sf).cache()
    val rows = p.as[(String, String, String)].collect()
    assert(rows.nonEmpty)
    val set = rows.map(r => (r._1, r._2)).toSet
    // the reference's nested loop emits both orientations
    assert(set.forall { case (a, b) => set.contains((b, a)) })
    assert(rows.forall(_._3 === "pathway_is_ortholog_to_pathway"))
    val edges = PathwayPipeline.proteinPathwayEdges(spark, sf)
    assert(edges.filter($"pathway".startsWith("kegg.pathway:")).count() > 0)
    assert(edges.filter($"pathway".startsWith("reactome:")).count() > 0)
    p.unpersist()
  }
}
