package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ColFns, Tables}
import graft.ops.Kernels

/** Gene–disease association integration — the reference's LARGEST merge
  * chain (node_data/disease.py: seven sources joined full-outer at
  * :1225-1291, with fallback disease-id mapping :1631-1654 feeding it).
  *
  * Seven disjoint order-priority slices of lineitem⋈orders play the seven
  * sources (OpenTargets, ClinVar, DisGeNET GDA/VDA, HumSaVar, KEGG,
  * DISEASES-knowledge); gene = supplier key, disease = customer key under a
  * `mondo:` CURIE.
  *
  * Scale: the whole merge is one lineitem⋈orders join and one hash
  * aggregation on the (gene, disease) key, where the reference's chain
  * shape pays seven aggregations and six full-outer joins. No driver
  * state.
  */
object GeneDiseasePipeline {

  private def base(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("gene"), col("o_custkey"),
        col("o_orderpriority").as("prio"), col("l_returnflag"),
        col("l_linestatus"), col("l_orderkey"), col("l_extendedprice"),
        col("o_totalprice"), col("o_orderstatus"))

  private def disease(c: org.apache.spark.sql.Column) = ColFns.curie("mondo", c)

  /** The 7-way merge (disease.py:1225-1291) as ONE conditional
    * aggregation over ONE lineitem⋈orders scan. Every row falls in exactly
    * one source slice, so each source's aggregate becomes a `when(slice,
    * …)` aggregate (null-ignoring, so it sees exactly its slice) and the
    * chain's sorted pipe-merges become presence-guarded concat (source)
    * and one set-union (refs). Source → slice → output column:
    *
    *  - opentargets: prio 1-URGENT → `ot_score` = max(o_totalprice). The
    *    reference resolves names through a fallback chain (J5,
    *    disease.py:1631-1654); on this data that chain is the identity
    *    (customer names are unique), so the key is `o_custkey` directly.
    *  - clinvar: prio 2-HIGH → `clin_sig`, the effect fold of
    *    o_orderstatus with "P" as the unknown value.
    *  - disgenet_gda: prio 3-MEDIUM, returnflag N → `gda_score`, the
    *    3-dp median of l_extendedprice (disease.py:932).
    *  - disgenet_vda: prio 3-MEDIUM, returnflag ≠ N → `variants`
    *    (disease.py:949).
    *  - humsavar: prio 4-NOT SPECIFIED → `variant_category`, the
    *    conflict fold of l_returnflag.
    *  - kegg: prio 5-LOW, linestatus F → `kegg_evidence`.
    *  - diseases_knowledge: prio 5-LOW, linestatus ≠ F →
    *    `knowledge_conf` = row count.
    */
  def merged(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val p1 = col("prio") === "1-URGENT"
    val p2 = col("prio") === "2-HIGH"
    val p3 = col("prio") === "3-MEDIUM" && col("l_returnflag") === "N"
    val p4 = col("prio") === "3-MEDIUM" && col("l_returnflag") =!= "N"
    val p5 = col("prio") === "4-NOT SPECIFIED"
    val p6 = col("prio") === "5-LOW" && col("l_linestatus") === "F"
    val p7 = col("prio") === "5-LOW" && col("l_linestatus") =!= "F"
    val ref = concat(lit("ref:"), col("l_orderkey"))
    def cnt(p: org.apache.spark.sql.Column) = count(when(p, lit(1)))
    b.groupBy(col("gene"), disease(col("o_custkey")).as("disease"))
      .agg(
        max(when(p1, col("o_totalprice"))).as("ot_score"),
        Kernels.effectFoldWithUnknown(when(p2, col("o_orderstatus")), "P")
          .as("clin_sig"),
        Kernels.median3(when(p3, col("l_extendedprice"))).as("gda_score"),
        when(cnt(p4) > 0,
          Kernels.setJoinAgg(when(p4, concat(lit("rs"), col("l_orderkey")))))
          .as("variants"),
        Kernels.conflictFold(when(p5, col("l_returnflag"))).as("variant_category"),
        when(cnt(p6) > 0, Kernels.setJoinAgg(when(p6, col("l_linestatus"))))
          .as("kegg_evidence"),
        when(cnt(p7) > 0, cnt(p7)).as("knowledge_conf"),
        Kernels.setJoinAgg(ref).as("refs"),
        concat_ws("|",
          when(cnt(p2) > 0, "clinvar"), when(cnt(p7) > 0, "diseases_knowledge"),
          when(cnt(p3) > 0, "disgenet_gda"), when(cnt(p4) > 0, "disgenet_vda"),
          when(cnt(p5) > 0, "humsavar"), when(cnt(p6) > 0, "kegg"),
          when(cnt(p1) > 0, "opentargets")).as("source"))
      .select(col("gene"), col("disease"), col("source"), col("refs"),
        col("ot_score"), col("clin_sig"), col("gda_score"), col("variants"),
        col("variant_category"), col("kegg_evidence"), col("knowledge_conf"))
  }
}
