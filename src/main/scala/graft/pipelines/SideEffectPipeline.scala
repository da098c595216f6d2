package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Drug→side-effect integration — the Spark re-expression of the
  * reference's side_effect module (node_data/side_effect.py:
  * merge_drug_side_effect_data :258-280): three sources keyed
  * (drugbank_id, meddra_id), each deduped first-seen per key
  * (drop_duplicates :201,224), then two chained outer merges with the
  * pipe-merged source column.
  *
  *  - ADReCS (:~130): ids resolve through a broadcast dict chain before
  *    the key dedup;
  *  - SIDER (:181-200): drug ids resolve through a TWO-step dict chain
  *    (cid → name → drugbank id), frequency kept as a string;
  *  - OffSides (:210-232): rxcui → drugbank broadcast dict, meddra ids
  *    admitted only when numeric (`isnumeric`), proportional reporting
  *    ratio rounded to 3 dp (:221).
  *
  * Analog mapping: drug ≈ part, side effect ≈ customer (via orders), the
  * three sources are order-status slices; the dicts are part-derived
  * broadcast dimensions. Scale: the merge is one fact join and one hash
  * aggregation on the (drugbank_id, meddra_id) key (see [[merged]]); all
  * mapping joins broadcast.
  */
object SideEffectPipeline {

  private def base(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), col("o_custkey"), col("o_orderstatus"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))

  /** Side-effect node builder (side_effect.py:296-334 `get_nodes`): the
    * meddra→name dict is a PRIORITY union — SIDER names win, OffSides fills
    * gaps (numeric meddra ids only, :309-310), ADReCS fills the rest with
    * its badd term (:314-316); ADReCS synonyms attach where present,
    * escaped `|`→`,` `'`→`^` (:319, with the name's extra `"` removal at
    * :326). Single-synonym terms are normalized to a 1-element array (the
    * reference emits a bare string there — schema discipline instead).
    * One row per meddra id; each source contributes its DISTINCT id set,
    * so the priority window is deterministic. */
  def nodes(s: SparkSession, d: String): DataFrame = {
    import graft.core.ColFns
    // ONE lineitem⋈orders scan: all three source id-sets are per-custkey
    // presence predicates (the OffSides numeric-meddra admission is the
    // custkey%7 test — M-prefixed ids never qualify), so the priority
    // union + keep-best window and the ADReCS left join both collapse
    // into a single conditional aggregation, as in [[merged]].
    val pres = base(s, d).groupBy(col("o_custkey"))
      .agg(
        min(when(col("o_orderstatus") === "O", 1)
          .when(col("o_orderstatus") === "P" &&
            !(col("o_custkey") % 7 === 0), 2)
          .when(col("o_orderstatus") === "F", 3)).as("prio"),
        max((col("o_orderstatus") === "F").cast("int")).as("__adr"))
      .filter(col("prio").isNotNull)
      .select(col("o_custkey").cast("string").as("mid"), col("prio"),
        when(col("__adr") === 1, lit(true)).as("has_syn"))
    val named = pres
      .join(Tables.customer(s, d),
        col("mid") === col("c_custkey").cast("string"))
    val nameEsc = (c: org.apache.spark.sql.Column) => translate(c, "'|\"", "^,")
    val raw = named.select(
      concat(lit("meddra:"), col("mid")).as("id"),
      lit("side_effect").as("label"),
      when(col("prio") === 1, nameEsc(col("c_name")))
        .when(col("prio") === 2, nameEsc(upper(col("c_name"))))
        .otherwise(nameEsc(concat(lit("badd "), col("c_name")))).as("name"),
      when(col("has_syn"), array_sort(array(
        ColFns.escapeProps(lower(col("c_name"))),
        concat(lit("syn:"), col("mid"))))).as("synonyms"))
    graft.core.SchemaRegistry.conformNodes(raw, "side_effect")
  }

  /** ADReCS side-effect hierarchy edges
    * (side_effect.py:402-417 `get_adrecs_side_effect_hierarchical_edges`):
    * one child→parent edge per ontology relation where BOTH ends resolve
    * through the adrecs_adr_id→meddra broadcast dict (:411 — the
    * both-present guard drops relations with an unmapped end), meddra
    * CURIE prefixes, label `side_effect_is_a_side_effect`. NOTE the
    * reference only reaches this builder under the swapped
    * DRUG_TO_SIDE_EFFECT guard (side_effect.py:366-367, the §7.3.8 bug);
    * the engine wires each builder to its own semantics
    * (ReferenceDeviationsSpec). Analog: relations child ck → parent ck/7
    * over the customer domain; the dict covers ids with ck%4≠0. */
  def hierarchyEdges(s: SparkSession, d: String): DataFrame = {
    val dict = Tables.customer(s, d)
      .filter(col("c_custkey") % 4 =!= 0)
      .select(col("c_custkey").as("from_id"),
        col("c_custkey").cast("string").as("meddra_id"))
    val rel = Tables.customer(s, d).filter(col("c_custkey") >= 7)
      .select(col("c_custkey").as("child"),
        floor(col("c_custkey") / 7).cast("long").as("parent"))
    rel
      .join(broadcast(dict.withColumnRenamed("meddra_id", "child_meddra")),
        col("child") === col("from_id")).drop("from_id")
      .join(broadcast(dict.withColumnRenamed("meddra_id", "parent_meddra")),
        col("parent") === col("from_id")).drop("from_id")
      .select(
        concat(lit("meddra:"), col("child_meddra")).as("src"),
        concat(lit("meddra:"), col("parent_meddra")).as("dst"),
        lit("side_effect_is_a_side_effect").as("label"))
  }

  /** merge_drug_side_effect_data (side_effect.py:258-280): three sources,
    * each deduped first-seen per (drugbank_id, meddra_id), then
    * (adrecs ⟗ sider) ⟗ offsides with the source column pipe-merged — as
    * ONE lineitem⋈orders scan, one broadcast part dim and ONE hash
    * aggregation. Source → slice → payload:
    *
    *  - ADReCS (:~130): orderstatus F, part retail price > 0 (the dict's
    *    admission) → no payload;
    *  - SIDER (:181-200): orderstatus O; the two-step name dict resolves
    *    to the identity partkey → DB id (unique-suffixed names), so it
    *    needs no join → `frequency`, first by (l_orderkey, l_linenumber,
    *    frequency);
    *  - OffSides (:210-232): orderstatus P, retail price > 1200, meddra id
    *    numeric (`isnumeric`: the `M`-prefixed ids are custkey % 7 = 0) →
    *    `proportional_reporting_ratio` rounded to 3 dp (:221), first by
    *    (l_orderkey, l_linenumber, ratio).
    *
    * Each keep-first window (drop_duplicates :201,224) is a `min` over an
    * ordering struct whose last field is the payload, and the chain's
    * sorted-distinct pipe merge is an alphabetical concat_ws over
    * per-source presence counts. */
  def merged(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.part(s, d).select(col("p_partkey"), col("p_retailprice"))
    val rows = base(s, d)
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
      .withColumn("src",
        when(col("o_orderstatus") === "F" && col("p_retailprice") > 0, "A")
          .when(col("o_orderstatus") === "O", "S")
          .when(col("o_orderstatus") === "P" && col("p_retailprice") > 1200 &&
            !(col("o_custkey") % 7 === 0), "F2"))
      .filter(col("src").isNotNull)
      .withColumn("drugbank_id", concat(lit("drugbank:DB"), col("l_partkey")))
      .withColumn("meddra_id", col("o_custkey").cast("string"))
    val freq = floor(col("l_quantity")).cast("long") % 4
    val freqStr = when(freq === 0, "rare").when(freq === 1, "infrequent")
      .when(freq === 2, "frequent").otherwise("postmarketing")
    val prr = round(col("l_extendedprice") / 1000.0, 3)
    // keep-first contract: `min` over a struct puts nulls first and NaN
    // last, unlike the NULLS LAST window order it replaced, so every
    // field must be non-null and non-NaN — all three are computed from
    // non-null lineitem columns; the outer `when` nulls the whole struct
    // (which `min` skips) to confine each keep-first to its own source
    def firstOf(src: String, value: org.apache.spark.sql.Column) =
      min(when(col("src") === src,
        struct(col("l_orderkey"), col("l_linenumber"), value.as("v"))))
        .getField("v")
    def present(src: String) = count(when(col("src") === src, lit(1))) > 0
    rows.groupBy(col("drugbank_id"), col("meddra_id"))
      .agg(
        firstOf("S", freqStr).as("frequency"),
        firstOf("F2", prr).as("proportional_reporting_ratio"),
        concat_ws("|",
          when(present("A"), "ADReCS"),
          when(present("F2"), "OffSides"),
          when(present("S"), "Sider")).as("source"))
      .select(col("drugbank_id"), col("meddra_id"), col("source"),
        col("frequency"), col("proportional_reporting_ratio"))
  }
}
