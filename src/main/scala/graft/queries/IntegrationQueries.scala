package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.core.Tables
import graft.pipelines.{CtiPipeline, DtiPipeline}

/** CTI and DTI integration pipelines (compound.py / drug.py analogs) and
  * the JSON-payload extraction op, oracle-checked end-to-end. */
object IntegrationQueries {

  val ctiInteractions = Q(
    "cti_interactions",
    """WITH act AS (SELECT l_partkey AS chembl, l_suppkey AS target,
      |    l_extendedprice AS pchembl, l_orderkey AS doc
      |  FROM lineitem WHERE l_returnflag = 'A' AND l_linestatus = 'F'),
      |map AS (SELECT p_partkey AS from_id, 'drugbank:DB' || p_partkey AS to_id
      |        FROM part WHERE p_size > 25),
      |allact AS (
      |  SELECT COALESCE(m.to_id, 'chembl:' || chembl) AS compound_id,
      |         target, pchembl, doc
      |  FROM act LEFT JOIN map m ON chembl = m.from_id),
      |qual AS (SELECT DISTINCT target FROM act WHERE pchembl > 20000)
      |SELECT compound_id, target,
      |  round(median(pchembl), 3) AS med_pchembl,
      |  list_extract(list_sort(list(pchembl)),
      |    CAST(floor(COUNT(*) / 2) AS INT) + 1) AS mid_pchembl,
      |  COUNT(*) AS n_activities,
      |  string_agg(DISTINCT 'doc:' || doc, '|' ORDER BY 'doc:' || doc) AS refs
      |FROM allact WHERE target IN (SELECT target FROM qual)
      |GROUP BY compound_id, target""".stripMargin) { (s, d) =>
    CtiPipeline.interactions(s, d)
  }

  private def refsSql(src: String) =
    s"string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey)"

  val dtiMerged = Q(
    "dti_merged",
    s"""WITH li AS (SELECT l_partkey AS drug, l_suppkey AS target, l_orderkey,
       |    l_returnflag, l_linestatus, l_shipdate, l_quantity, l_extendedprice,
       |    l_discount FROM lineitem),
       |s1 AS (SELECT drug, target,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS db_score,
       |    ${refsSql("s1")} AS refs
       |  FROM li WHERE l_returnflag = 'N' AND l_linestatus = 'O' GROUP BY 1, 2),
       |s2 AS (SELECT drug, target, round(median(l_extendedprice), 3) AS pchembl,
       |    ${refsSql("s2")} AS refs
       |  FROM li WHERE l_returnflag = 'N' AND l_linestatus = 'F' GROUP BY 1, 2),
       |s3 AS (SELECT drug, target,
       |    string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS kegg_evidence,
       |    ${refsSql("s3")} AS refs
       |  FROM li WHERE l_returnflag = 'A' GROUP BY 1, 2),
       |s4 AS (SELECT drug, target,
       |    MAX(CAST(floor(1000 * (1 - l_discount)) AS BIGINT)) AS stitch_score,
       |    ${refsSql("s4")} AS refs
       |  FROM li WHERE l_returnflag = 'R'
       |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
       |s5 AS (SELECT drug, target, COUNT(*) AS pharos_n, ${refsSql("s5")} AS refs
       |  FROM li WHERE l_returnflag = 'R'
       |    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2)
       |SELECT
       |  COALESCE(s1.drug, s2.drug, s3.drug, s4.drug, s5.drug) AS drug,
       |  COALESCE(s1.target, s2.target, s3.target, s4.target, s5.target) AS target,
       |  CONCAT_WS('|',
       |    CASE WHEN s2.drug IS NOT NULL THEN 'chembl' END,
       |    CASE WHEN s1.drug IS NOT NULL THEN 'drugbank' END,
       |    CASE WHEN s3.drug IS NOT NULL THEN 'kegg' END,
       |    CASE WHEN s5.drug IS NOT NULL THEN 'pharos' END,
       |    CASE WHEN s4.drug IS NOT NULL THEN 'stitch' END) AS source,
       |  NULLIF(array_to_string(list_sort(list_distinct(flatten([
       |    COALESCE(string_split(s1.refs, '|'), []),
       |    COALESCE(string_split(s2.refs, '|'), []),
       |    COALESCE(string_split(s3.refs, '|'), []),
       |    COALESCE(string_split(s4.refs, '|'), []),
       |    COALESCE(string_split(s5.refs, '|'), [])]))), '|'), '') AS refs,
       |  s1.db_score, s2.pchembl, s3.kegg_evidence, s4.stitch_score, s5.pharos_n
       |FROM s1
       |FULL OUTER JOIN s2 ON s1.drug = s2.drug AND s1.target = s2.target
       |FULL OUTER JOIN s3 ON COALESCE(s1.drug, s2.drug) = s3.drug
       |  AND COALESCE(s1.target, s2.target) = s3.target
       |FULL OUTER JOIN s4 ON COALESCE(s1.drug, s2.drug, s3.drug) = s4.drug
       |  AND COALESCE(s1.target, s2.target, s3.target) = s4.target
       |FULL OUTER JOIN s5 ON COALESCE(s1.drug, s2.drug, s3.drug, s4.drug) = s5.drug
       |  AND COALESCE(s1.target, s2.target, s3.target, s4.target) = s5.target""".stripMargin) {
    (s, d) => DtiPipeline.merged(s, d)
  }

  /** The gene–disease 7-way merge (disease.py analog — the reference's
    * largest chain) with the J5 fallback-mapped OpenTargets keys. */
  val gdaMerged = Q(
    "gda_merged",
    """WITH b AS (SELECT l_suppkey AS gene, o_custkey, o_orderpriority AS prio,
      |    l_returnflag, l_linestatus, l_orderkey, l_extendedprice,
      |    o_totalprice, o_orderstatus
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |s1 AS (
      |  SELECT gene, 'mondo:' || COALESCE(m1.to_id, m2.to_id) AS disease,
      |    MAX(o_totalprice) AS ot_score,
      |    string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey) AS refs
      |  FROM b JOIN customer c ON b.o_custkey = c.c_custkey
      |  LEFT JOIN (SELECT c_name AS nm, c_custkey AS to_id FROM customer
      |             WHERE c_acctbal > 0) m1 ON c.c_name = m1.nm
      |  LEFT JOIN (SELECT c_name AS nm, c_custkey AS to_id FROM customer) m2
      |    ON c.c_name = m2.nm
      |  WHERE prio = '1-URGENT' GROUP BY 1, 2),
      |s2 AS (SELECT gene, disease,
      |    CASE WHEN len(st) = 1 THEN st[1]
      |         WHEN len(st) = 2 AND st[2] = 'P' THEN st[1] END AS clin_sig, refs
      |  FROM (SELECT gene, 'mondo:' || o_custkey AS disease,
      |      list_sort(list(DISTINCT o_orderstatus)) AS st,
      |      string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey) AS refs
      |    FROM b WHERE prio = '2-HIGH' GROUP BY 1, 2)),
      |s3 AS (SELECT gene, 'mondo:' || o_custkey AS disease,
      |    round(median(l_extendedprice), 3) AS gda_score,
      |    string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey) AS refs
      |  FROM b WHERE prio = '3-MEDIUM' AND l_returnflag = 'N' GROUP BY 1, 2),
      |s4 AS (SELECT gene, 'mondo:' || o_custkey AS disease,
      |    string_agg(DISTINCT 'rs' || l_orderkey, '|' ORDER BY 'rs' || l_orderkey) AS variants,
      |    string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey) AS refs
      |  FROM b WHERE prio = '3-MEDIUM' AND l_returnflag <> 'N' GROUP BY 1, 2),
      |s5 AS (SELECT gene, disease,
      |    CASE WHEN len(st) = 1 THEN st[1] END AS variant_category, refs
      |  FROM (SELECT gene, 'mondo:' || o_custkey AS disease,
      |      list_sort(list(DISTINCT l_returnflag)) AS st,
      |      string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey) AS refs
      |    FROM b WHERE prio = '4-NOT SPECIFIED' GROUP BY 1, 2)),
      |s6 AS (SELECT gene, 'mondo:' || o_custkey AS disease,
      |    string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS kegg_evidence,
      |    string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey) AS refs
      |  FROM b WHERE prio = '5-LOW' AND l_linestatus = 'F' GROUP BY 1, 2),
      |s7 AS (SELECT gene, 'mondo:' || o_custkey AS disease,
      |    COUNT(*) AS knowledge_conf,
      |    string_agg(DISTINCT 'ref:' || l_orderkey, '|' ORDER BY 'ref:' || l_orderkey) AS refs
      |  FROM b WHERE prio = '5-LOW' AND l_linestatus <> 'F' GROUP BY 1, 2)
      |SELECT
      |  COALESCE(s1.gene, s2.gene, s3.gene, s4.gene, s5.gene, s6.gene, s7.gene) AS gene,
      |  COALESCE(s1.disease, s2.disease, s3.disease, s4.disease, s5.disease, s6.disease, s7.disease) AS disease,
      |  CONCAT_WS('|',
      |    CASE WHEN s2.gene IS NOT NULL THEN 'clinvar' END,
      |    CASE WHEN s7.gene IS NOT NULL THEN 'diseases_knowledge' END,
      |    CASE WHEN s3.gene IS NOT NULL THEN 'disgenet_gda' END,
      |    CASE WHEN s4.gene IS NOT NULL THEN 'disgenet_vda' END,
      |    CASE WHEN s5.gene IS NOT NULL THEN 'humsavar' END,
      |    CASE WHEN s6.gene IS NOT NULL THEN 'kegg' END,
      |    CASE WHEN s1.gene IS NOT NULL THEN 'opentargets' END) AS source,
      |  NULLIF(array_to_string(list_sort(list_distinct(flatten([
      |    COALESCE(string_split(s1.refs, '|'), []),
      |    COALESCE(string_split(s2.refs, '|'), []),
      |    COALESCE(string_split(s3.refs, '|'), []),
      |    COALESCE(string_split(s4.refs, '|'), []),
      |    COALESCE(string_split(s5.refs, '|'), []),
      |    COALESCE(string_split(s6.refs, '|'), []),
      |    COALESCE(string_split(s7.refs, '|'), [])]))), '|'), '') AS refs,
      |  s1.ot_score, s2.clin_sig, s3.gda_score, s4.variants,
      |  s5.variant_category, s6.kegg_evidence, s7.knowledge_conf
      |FROM s1
      |FULL OUTER JOIN s2 ON s1.gene = s2.gene AND s1.disease = s2.disease
      |FULL OUTER JOIN s3 ON COALESCE(s1.gene, s2.gene) = s3.gene
      |  AND COALESCE(s1.disease, s2.disease) = s3.disease
      |FULL OUTER JOIN s4 ON COALESCE(s1.gene, s2.gene, s3.gene) = s4.gene
      |  AND COALESCE(s1.disease, s2.disease, s3.disease) = s4.disease
      |FULL OUTER JOIN s5 ON COALESCE(s1.gene, s2.gene, s3.gene, s4.gene) = s5.gene
      |  AND COALESCE(s1.disease, s2.disease, s3.disease, s4.disease) = s5.disease
      |FULL OUTER JOIN s6 ON COALESCE(s1.gene, s2.gene, s3.gene, s4.gene, s5.gene) = s6.gene
      |  AND COALESCE(s1.disease, s2.disease, s3.disease, s4.disease, s5.disease) = s6.disease
      |FULL OUTER JOIN s7 ON COALESCE(s1.gene, s2.gene, s3.gene, s4.gene, s5.gene, s6.gene) = s7.gene
      |  AND COALESCE(s1.disease, s2.disease, s3.disease, s4.disease, s5.disease, s6.disease) = s7.disease""".stripMargin) {
    (s, d) => graft.pipelines.GeneDiseasePipeline.merged(s, d)
  }

  // former twin names, kept registered so the catalogue's name set stays
  // stable: each runs its primary's plan under its primary's oracle
  val gdaMergedFast = gdaMerged.copy(name = "gda_merged_fast")
  val gdaMergedSalted = gdaMerged.copy(name = "gda_merged_salted")
  val dtiMergedFast = dtiMerged.copy(name = "dti_merged_fast")

  /** Orthology pairs (orthology.py analog): name-keyed pair resolution,
    * 3-dp score rounding, undirected dedup preserving winner orientation. */
  val orthoPairs = Q(
    "ortho_pairs",
    """WITH li AS (SELECT l_orderkey, l_suppkey, l_linenumber, l_discount, l_quantity
      |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'),
      |raw AS (
      |  SELECT 'supp:' || a.l_suppkey AS a, 'supp:' || b.l_suppkey AS b,
      |    a.l_orderkey AS l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
      |    round((a.l_discount + b.l_discount) / 2, 3) AS score,
      |    CASE WHEN a.l_quantity = b.l_quantity THEN '1:1' ELSE 'n:1' END AS rel_type
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_suppkey <> b.l_suppkey)
      |SELECT a, b, score, rel_type FROM raw
      |QUALIFY row_number() OVER (
      |  PARTITION BY least(a, b), greatest(a, b)
      |  ORDER BY score DESC, l_orderkey, ln_a, ln_b, a, rel_type) = 1""".stripMargin) {
    (s, d) => graft.pipelines.OrthologyPipeline.pairs(s, d)
  }

  /** F13: JSON payload traversal (Pharos nested-JSON analog,
    * drug.py:716-738) over the events props column. */
  val evJsonExtract = Q(
    "ev_json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
  }

  val all: Seq[Q] = Seq(ctiInteractions, dtiMerged, dtiMergedFast,
    gdaMerged, gdaMergedFast, gdaMergedSalted, orthoPairs, evJsonExtract)
}
