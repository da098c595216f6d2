package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Kernels

/** Drug–target-interaction 5-way merge (node_data/drug.py analog,
  * the reference's largest outer-join chain: drug.py:1054-1152).
  *
  * Five "sources" (DrugBank, ChEMBL, KEGG, STITCH, Pharos) each contribute
  * per-(drug,target) payload columns from disjoint lineitem slices; the
  * merge reconciles the shared `source` and `refs` columns by sorted
  * set-union (A4/J2) and keeps each source's scores as passthrough
  * columns — the reference's column-twin coalescing discipline, computed
  * in one hash aggregation on the (drug,target) key (see [[merged]]).
  */
object DtiPipeline {

  private def slice(s: SparkSession, d: String) = Tables.lineitem(s, d)
    .select(col("l_partkey").as("drug"), col("l_suppkey").as("target"),
      col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"))

  /** BioCypher-style edge emit for the merged DTI table, conformed to the
    * schema registry's drug_targets_protein shape (S23 + P10). */
  def edges(s: SparkSession, d: String): DataFrame = {
    val m = merged(s, d)
      .select(
        concat_ws("_", lit("dti"), col("drug"), col("target")).as("rel_id"),
        concat(lit("drugbank:DB"), col("drug")).as("src"),
        concat(lit("supp:"), col("target")).as("dst"),
        lit("drug_targets_protein").as("label"),
        col("source"),
        split(col("refs"), "\\|").as("refs"),
        col("pchembl"),
        col("db_score").isNotNull.as("direct_interaction"))
    graft.core.SchemaRegistry.conformEdges(m, "drug_targets_protein")
  }

  /** Drug node builder (drug.py:1194-1222 `get_drug_nodes`): one
    * small_molecule node per DrugBank drug; prop values escaped
    * (`'`→`^`, drug.py:1210), empty/absent props dropped (null), the
    * configured `node_fields` subset applied via the schema registry's
    * conform (P10 — the reference's `prop_key in self.node_fields`). */
  def nodes(s: SparkSession, d: String): DataFrame = {
    import graft.core.ColFns
    val groups = array_sort(filter(array(
      when(col("p_size") > 10, "approved"),
      when(col("p_retailprice") > 1500, "investigational")),
      x => x.isNotNull))
    val raw = Tables.part(s, d).select(
      concat(lit("drugbank:DB"), col("p_partkey")).as("id"),
      lit("small_molecule").as("label"),
      concat(lit("DB"), col("p_partkey")).as("drugbank_id"),
      concat_ws("-", col("p_partkey"), col("p_partkey") % 100,
        col("p_partkey") % 10).as("cas_number"),
      ColFns.escapeProps(col("p_name")).as("name"),
      when(size(groups) > 0, groups).as("groups"),
      when(col("p_partkey") % 3 === 0,
        concat(lit("D"), col("p_partkey") % 10000)).as("kegg_drug"),
      concat(lit("CHEMBL"), col("p_partkey")).as("chembl"))
    graft.core.SchemaRegistry.conformNodes(raw, "small_molecule",
      selected = Set("drugbank_id", "cas_number", "name", "groups",
        "kegg_drug", "chembl"))
  }

  /** The 5-way merge (merge steps at drug.py:1054, 1079, 1113, 1137,
    * 1152) as ONE scan and ONE conditional aggregation: the five sources
    * are disjoint lineitem slices (returnflag × linestatus × ship date
    * cover the whole domain), so each source's aggregate becomes a
    * `when(slice, …)` aggregate and the chain's sorted pipe-merges become
    * presence-guarded concat (source) and one set-union (refs).
    * Source → slice → output column, in the chain's merge order:
    *
    *  - drugbank: returnflag N, linestatus O → `db_score` = sum of
    *    l_quantity;
    *  - chembl: returnflag N, linestatus F → `pchembl` = 3-dp median of
    *    l_extendedprice;
    *  - kegg: returnflag A → `kegg_evidence`;
    *  - stitch: returnflag R, shipped before 1998 → `stitch_score` = max
    *    of 1000·(1 − l_discount);
    *  - pharos: returnflag R, shipped from 1998 → `pharos_n` = row count.
    */
  def merged(s: SparkSession, d: String): DataFrame = {
    val li = slice(s, d)
    val cut = lit("1998-01-01 00:00:00").cast("timestamp")
    val s1 = col("l_returnflag") === "N" && col("l_linestatus") === "O"
    val s2 = col("l_returnflag") === "N" && col("l_linestatus") === "F"
    val s3 = col("l_returnflag") === "A"
    val s4 = col("l_returnflag") === "R" && col("l_shipdate") < cut
    val s5 = col("l_returnflag") === "R" && col("l_shipdate") >= cut
    def cnt(p: org.apache.spark.sql.Column) = count(when(p, lit(1)))
    li.groupBy(col("drug"), col("target"))
      .agg(
        sum(when(s1, col("l_quantity")).cast("decimal(18,4)")).cast("double")
          .as("db_score"),
        Kernels.median3(when(s2, col("l_extendedprice"))).as("pchembl"),
        when(cnt(s3) > 0, Kernels.setJoinAgg(when(s3, col("l_linestatus"))))
          .as("kegg_evidence"),
        max(when(s4, floor(lit(1000) * (lit(1) - col("l_discount"))).cast("long")))
          .as("stitch_score"),
        when(cnt(s5) > 0, cnt(s5)).as("pharos_n"),
        Kernels.setJoinAgg(concat(lit("ref:"), col("l_orderkey"))).as("refs"),
        concat_ws("|",
          when(cnt(s2) > 0, "chembl"), when(cnt(s1) > 0, "drugbank"),
          when(cnt(s3) > 0, "kegg"), when(cnt(s5) > 0, "pharos"),
          when(cnt(s4) > 0, "stitch")).as("source"))
      .select(col("drug"), col("target"), col("source"), col("refs"),
        col("db_score"), col("pchembl"), col("kegg_evidence"),
        col("stitch_score"), col("pharos_n"))
  }
}
