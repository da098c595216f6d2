package graft.queries

import graft.Q
import graft.pipelines.{PathwayPipeline, TfGenPipeline}

/** tf_gen + pathway pipeline analogs (edge_data/tf_gen.py,
  * node_data/pathway.py), oracle-checked end-to-end. */
object RegulationQueries {

  /** DuckDB pipe-merge of two pipe-encoded cells (ColFns.mergePipes). */
  private def mergePipesSql(x: String, y: String): String =
    s"""NULLIF(array_to_string(list_sort(list_distinct(flatten([
       |    COALESCE(string_split($x, '|'), []),
       |    COALESCE(string_split($y, '|'), [])]))), '|'), '')""".stripMargin

  /** DuckDB pairwise effect fold (Kernels.effectMergePair). */
  private def effectPairSql(x: String, y: String): String = {
    val sp = s"list_sort(list_distinct(list_filter([$x, $y], v -> v IS NOT NULL)))"
    s"""CASE WHEN len($sp) = 1 THEN ($sp)[1]
       |     WHEN len($sp) = 2 AND ($sp)[2] = 'Unknown' THEN ($sp)[1] END""".stripMargin
  }

  private def sourceCte(name: String, pred: String): String =
    s"""$name AS (SELECT tf, target,
       |    CASE WHEN len(st) = 1 THEN st[1]
       |         WHEN len(st) = 2 AND st[2] = 'Unknown' THEN st[1] END AS tf_effect,
       |    pubmed_id, '$name' AS source
       |  FROM (SELECT tf, target, list_sort(list(DISTINCT eff)) AS st,
       |      string_agg(DISTINCT pmid, '|' ORDER BY pmid) AS pubmed_id
       |    FROM li WHERE $pred GROUP BY 1, 2)
       |  WHERE (CASE WHEN len(st) = 1 THEN st[1]
       |         WHEN len(st) = 2 AND st[2] = 'Unknown' THEN st[1] END) IS NOT NULL)"""
      .stripMargin

  val tfgMerged = Q(
    "tfg_merged",
    s"""WITH li AS (SELECT 'tf:' || l_suppkey AS tf, 'gene:' || l_partkey AS target,
       |    CASE CAST(floor(l_quantity) AS BIGINT) % 3
       |      WHEN 0 THEN 'Activation' WHEN 1 THEN 'Repression'
       |      ELSE 'Unknown' END AS eff,
       |    'pmid:' || l_orderkey AS pmid, l_shipdate FROM lineitem),
       |${sourceCte("dorothea", "l_shipdate < TIMESTAMP '1995-01-01 00:00:00'")},
       |${sourceCte("collectri",
           "l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'")},
       |${sourceCte("trrust", "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'")},
       |m1 AS (SELECT COALESCE(d.tf, c.tf) AS tf,
       |    COALESCE(d.target, c.target) AS target,
       |    ${mergePipesSql("d.source", "c.source")} AS source,
       |    ${mergePipesSql("d.pubmed_id", "c.pubmed_id")} AS pubmed_id,
       |    ${effectPairSql("d.tf_effect", "c.tf_effect")} AS tf_effect
       |  FROM dorothea d FULL OUTER JOIN collectri c
       |    ON d.tf = c.tf AND d.target = c.target),
       |m1f AS (SELECT * FROM m1 WHERE tf_effect IS NOT NULL)
       |SELECT COALESCE(m.tf, t.tf) AS tf, COALESCE(m.target, t.target) AS target,
       |  ${mergePipesSql("m.source", "t.source")} AS source,
       |  ${mergePipesSql("m.pubmed_id", "t.pubmed_id")} AS pubmed_id,
       |  ${effectPairSql("m.tf_effect", "t.tf_effect")} AS tf_effect
       |FROM m1f m FULL OUTER JOIN trrust t
       |  ON m.tf = t.tf AND m.target = t.target
       |WHERE ${effectPairSql("m.tf_effect", "t.tf_effect")} IS NOT NULL""".stripMargin) {
    (s, d) => TfGenPipeline.merged(s, d)
  }

  val pathwayEdges = Q(
    "pathway_edges",
    """SELECT DISTINCT 'uniprot:' || l_suppkey AS protein,
      |  'kegg.pathway:hsa' || (l_partkey % 40) AS pathway
      |FROM lineitem WHERE l_returnflag = 'A'
      |UNION ALL
      |SELECT DISTINCT 'uniprot:' || l_suppkey AS protein,
      |  'reactome:R-HSA-' || (l_partkey % 40) AS pathway
      |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin) { (s, d) =>
    PathwayPipeline.proteinPathwayEdges(s, d)
  }

  val pathwayPairs = Q(
    "pathway_pairs",
    """WITH kegg AS (SELECT DISTINCT
      |    (CASE WHEN p_size % 2 = 0 THEN 'hsa' ELSE 'mmu' END)
      |      || (p_partkey % 40) AS id FROM part),
      |rea AS (SELECT DISTINCT
      |    'R-' || (CASE WHEN p_size % 2 = 0 THEN 'HSA' ELSE 'MMU' END)
      |      || '-' || (p_partkey % 40) AS id FROM part)
      |SELECT 'kegg.pathway:' || a.id AS src, 'kegg.pathway:' || b.id AS dst,
      |  'pathway_is_ortholog_to_pathway' AS label
      |FROM kegg a JOIN kegg b ON substr(a.id, 4) = substr(b.id, 4) AND a.id <> b.id
      |UNION ALL
      |SELECT 'kegg.pathway:' || a.id AS src, 'kegg.pathway:' || b.id AS dst,
      |  'pathway_is_ortholog_to_pathway' AS label
      |FROM rea a JOIN rea b
      |  ON string_split(a.id, '-')[-1] = string_split(b.id, '-')[-1]
      |  AND a.id <> b.id""".stripMargin) { (s, d) =>
    PathwayPipeline.orthologyPairs(s, d)
  }

  /** merge_drug_pathway_data (pathway.py:397-411): KEGG + Reactome
    * drug→pathway frames concatenated (U1), each dict-admitted and
    * key-deduped; Reactome rows evidence-filtered first. */
  val drugPathwayMerged = Q(
    "drug_pathway_merged",
    """SELECT DISTINCT 'drugbank:DB' || l_partkey AS drug_id,
      |  'kegg.pathway:hsa' || (l_orderkey % 40) AS pathway_id,
      |  'KEGG' AS source
      |FROM lineitem WHERE l_linestatus = 'O' AND l_partkey % 3 = 0
      |UNION ALL
      |SELECT DISTINCT 'drugbank:DB' || l_partkey,
      |  'reactome:R-HSA-' || (l_orderkey % 40), 'Reactome'
      |FROM lineitem JOIN part ON l_partkey = p_partkey AND p_size > 25
      |WHERE l_linestatus = 'F' AND l_returnflag IN ('N', 'A')""".stripMargin) {
    (s, d) => PathwayPipeline.drugPathwayEdges(s, d)
  }

  /** merge_disease_pathway_data (pathway.py:413-432): KEGG (J5
    * MeSH>OMIM>ICD-10 fallback-mapped diseases) ⟗ CTD (catalogue-checked
    * KEGG-shaped pathway ids), source pipe-merged. */
  val diseasePathwayMerged = Q(
    "disease_pathway_merged",
    s"""WITH mesh AS (SELECT c_custkey AS f, 'mondo:' || c_custkey AS t
       |    FROM customer WHERE c_nationkey % 3 = 2),
       |omim AS (SELECT c_custkey AS f, 'mondo:' || (c_custkey % 997) AS t
       |    FROM customer WHERE c_nationkey % 5 = 0),
       |icd AS (SELECT c_custkey AS f, 'mondo:' || (c_custkey + 500000) AS t
       |    FROM customer WHERE c_nationkey % 2 = 1),
       |kegg AS (SELECT DISTINCT COALESCE(m.t, o.t, i.t) AS disease_id,
       |    'kegg.pathway:hsa' || (l_partkey % 40) AS pathway_id,
       |    'KEGG' AS source
       |  FROM lineitem
       |  LEFT JOIN mesh m ON l_suppkey = m.f
       |  LEFT JOIN omim o ON l_suppkey = o.f
       |  LEFT JOIN icd i ON l_suppkey = i.f
       |  WHERE l_returnflag = 'N' AND COALESCE(m.t, o.t, i.t) IS NOT NULL),
       |base AS (SELECT m.t AS disease_id,
       |    CAST(l_orderkey % 50 AS VARCHAR) AS sfx, l_tax > 0.04 AS is_kegg
       |  FROM lineitem JOIN mesh m ON l_suppkey = m.f
       |  WHERE l_returnflag = 'A'),
       |hsa AS (SELECT DISTINCT CAST(p_partkey % 40 AS VARCHAR) AS sfx
       |  FROM part WHERE p_size % 2 = 0),
       |ctd AS (SELECT DISTINCT disease_id, pathway_id, 'CTD' AS source FROM (
       |  SELECT disease_id, 'kegg.pathway:hsa' || sfx AS pathway_id
       |  FROM base WHERE is_kegg AND sfx IN (SELECT sfx FROM hsa)
       |  UNION ALL
       |  SELECT disease_id, 'reactome:R-HSA-' || sfx FROM base WHERE NOT is_kegg))
       |SELECT COALESCE(k.disease_id, c.disease_id) AS disease_id,
       |  COALESCE(k.pathway_id, c.pathway_id) AS pathway_id,
       |  ${mergePipesSql("k.source", "c.source")} AS source
       |FROM kegg k FULL OUTER JOIN ctd c
       |  ON k.disease_id = c.disease_id AND k.pathway_id = c.pathway_id"""
      .stripMargin) {
    (s, d) => PathwayPipeline.diseasePathwayEdges(s, d)
  }

  /** get_reactome_hierarchical_edges (pathway.py:635-652): child→parent
    * hierarchy projection, reactome prefixes both ends. */
  val pathwayHierarchy = Q(
    "pathway_hierarchy",
    """WITH r AS (SELECT DISTINCT
      |    (CASE WHEN p_size % 2 = 0 THEN 'HSA' ELSE 'MMU' END) AS org,
      |    p_partkey % 40 AS sfx FROM part)
      |SELECT 'reactome:R-' || org || '-' || sfx AS src,
      |  'reactome:R-' || org || '-' || (sfx // 4) AS dst,
      |  'pathway_participates_pathway' AS label
      |FROM r WHERE sfx <> sfx // 4""".stripMargin) {
    (s, d) => PathwayPipeline.hierarchyEdges(s, d)
  }

  val all: Seq[Q] = Seq(tfgMerged, pathwayEdges, pathwayPairs,
    drugPathwayMerged, diseasePathwayMerged, pathwayHierarchy)
}
