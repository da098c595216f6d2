package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.pipelines.{EcPipeline, PhenotypePipeline, SideEffectPipeline}

/** side_effect / phenotype / ec module analogs, oracle-checked. */
object NodeBuilderQueries {

  private def mergePipesSql(x: String, y: String): String =
    s"""NULLIF(array_to_string(list_sort(list_distinct(flatten([
       |    COALESCE(string_split($x, '|'), []),
       |    COALESCE(string_split($y, '|'), [])]))), '|'), '')""".stripMargin

  val sideEffects = Q(
    "side_effects",
    s"""WITH b AS (SELECT l_partkey, o_custkey, o_orderstatus, l_orderkey,
       |    l_linenumber, l_quantity, l_extendedprice
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |ad AS (SELECT drugbank_id, meddra_id, 'ADReCS' AS source FROM (
       |  SELECT 'drugbank:DB' || l_partkey AS drugbank_id,
       |    CAST(o_custkey AS VARCHAR) AS meddra_id,
       |    row_number() OVER (PARTITION BY l_partkey, o_custkey
       |      ORDER BY l_orderkey, l_linenumber) AS rn
       |  FROM b JOIN part ON l_partkey = p_partkey AND p_retailprice > 0
       |  WHERE o_orderstatus = 'F') WHERE rn = 1),
       |sd AS (SELECT drugbank_id, meddra_id, frequency, 'Sider' AS source FROM (
       |  SELECT 'drugbank:DB' || l_partkey AS drugbank_id,
       |    CAST(o_custkey AS VARCHAR) AS meddra_id,
       |    CASE CAST(floor(l_quantity) AS BIGINT) % 4
       |      WHEN 0 THEN 'rare' WHEN 1 THEN 'infrequent'
       |      WHEN 2 THEN 'frequent' ELSE 'postmarketing' END AS frequency,
       |    row_number() OVER (PARTITION BY l_partkey, o_custkey
       |      ORDER BY l_orderkey, l_linenumber,
       |        CASE CAST(floor(l_quantity) AS BIGINT) % 4
       |          WHEN 0 THEN 'rare' WHEN 1 THEN 'infrequent'
       |          WHEN 2 THEN 'frequent' ELSE 'postmarketing' END) AS rn
       |  FROM b JOIN part ON l_partkey = p_partkey
       |  WHERE o_orderstatus = 'O') WHERE rn = 1),
       |os AS (SELECT drugbank_id, meddra_id, proportional_reporting_ratio,
       |    'OffSides' AS source FROM (
       |  SELECT 'drugbank:DB' || l_partkey AS drugbank_id,
       |    CASE WHEN o_custkey % 7 = 0 THEN 'M' || o_custkey
       |         ELSE CAST(o_custkey AS VARCHAR) END AS meddra_id,
       |    round(l_extendedprice / 1000.0, 3) AS proportional_reporting_ratio,
       |    row_number() OVER (PARTITION BY l_partkey,
       |      CASE WHEN o_custkey % 7 = 0 THEN 'M' || o_custkey
       |           ELSE CAST(o_custkey AS VARCHAR) END
       |      ORDER BY l_orderkey, l_linenumber,
       |        round(l_extendedprice / 1000.0, 3)) AS rn
       |  FROM b JOIN part ON l_partkey = p_partkey AND p_retailprice > 1200
       |  WHERE o_orderstatus = 'P'
       |    AND regexp_matches(CASE WHEN o_custkey % 7 = 0 THEN 'M' || o_custkey
       |      ELSE CAST(o_custkey AS VARCHAR) END, '^[0-9]+$$')) WHERE rn = 1),
       |m1 AS (SELECT COALESCE(a.drugbank_id, s.drugbank_id) AS drugbank_id,
       |    COALESCE(a.meddra_id, s.meddra_id) AS meddra_id,
       |    ${mergePipesSql("a.source", "s.source")} AS source, s.frequency
       |  FROM ad a FULL OUTER JOIN sd s
       |    ON a.drugbank_id = s.drugbank_id AND a.meddra_id = s.meddra_id)
       |SELECT COALESCE(m.drugbank_id, o.drugbank_id) AS drugbank_id,
       |  COALESCE(m.meddra_id, o.meddra_id) AS meddra_id,
       |  ${mergePipesSql("m.source", "o.source")} AS source,
       |  m.frequency, o.proportional_reporting_ratio
       |FROM m1 m FULL OUTER JOIN os o
       |  ON m.drugbank_id = o.drugbank_id AND m.meddra_id = o.meddra_id"""
      .stripMargin) { (s, d) =>
    SideEffectPipeline.merged(s, d)
  }

  val ecNodes = Q(
    "ec_nodes",
    """WITH p AS (SELECT p_partkey, p_type, p_name,
      |    CAST(p_partkey % 6 + 1 AS VARCHAR) AS l1 FROM part),
      |p2 AS (SELECT *, l1 || '.' || (p_partkey % 8 + 1) AS l2 FROM p),
      |p3 AS (SELECT *, l2 || '.' || (p_partkey % 5 + 1) AS l3 FROM p2),
      |p4 AS (SELECT *, l3 || '.' || (p_partkey % 97 + 1) AS l4 FROM p3)
      |SELECT 'eccode:' || l1 AS id, 'ec_number' AS label,
      |  translate(min(p_type), '|''', ',^') AS name FROM p4 GROUP BY l1
      |UNION ALL
      |SELECT 'eccode:' || l2, 'ec_number',
      |  translate(min(p_type), '|''', ',^') FROM p4 GROUP BY l2
      |UNION ALL
      |SELECT 'eccode:' || l3, 'ec_number',
      |  translate(min(p_type), '|''', ',^') FROM p4 GROUP BY l3
      |UNION ALL
      |SELECT 'eccode:' || l4, 'ec_number',
      |  replace(translate(min(p_name), '|''', ',^'), '.', '') FROM p4
      |GROUP BY l4""".stripMargin) { (s, d) =>
    EcPipeline.nodes(s, d)
  }

  val ecEdges = Q(
    "ec_edges",
    """WITH p AS (SELECT p_partkey,
      |    CAST(p_partkey % 6 + 1 AS VARCHAR) AS l1 FROM part),
      |p2 AS (SELECT *, l1 || '.' || (p_partkey % 8 + 1) AS l2 FROM p),
      |p3 AS (SELECT *, l2 || '.' || (p_partkey % 5 + 1) AS l3 FROM p2),
      |p4 AS (SELECT *, l3 || '.' || (p_partkey % 97 + 1) AS l4 FROM p3)
      |SELECT src, dst, 'ec_number_is_a_ec_number' AS label FROM (
      |  SELECT DISTINCT 'eccode:' || l4 AS src, 'eccode:' || l3 AS dst FROM p4
      |  UNION ALL
      |  SELECT DISTINCT 'eccode:' || l3, 'eccode:' || l2 FROM p4
      |  UNION ALL
      |  SELECT DISTINCT 'eccode:' || l2, 'eccode:' || l1 FROM p4)"""
      .stripMargin) { (s, d) =>
    EcPipeline.edges(s, d)
  }

  val phenotypeEdges = Q(
    "phenotype_edges",
    """WITH b AS (SELECT l_suppkey, o_custkey, o_orderstatus, l_returnflag,
      |    o_orderkey, o_orderpriority
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT DISTINCT 'uniprot:' || l_suppkey AS src, 'hp:' || o_custkey AS dst,
      |  'protein_is_associated_with_phenotype' AS label,
      |  CAST(NULL AS VARCHAR) AS evidence, CAST(NULL AS VARCHAR) AS pubmed_ids
      |FROM b WHERE o_orderstatus = 'F' AND l_returnflag = 'N'
      |UNION ALL
      |SELECT DISTINCT 'hp:' || c_custkey, 'hp:' || (c_custkey // 10),
      |  'phenotype_is_a_phenotype', NULL, NULL
      |FROM customer WHERE c_custkey >= 10
      |UNION ALL
      |SELECT 'hp:' || o_custkey, 'mondo:' || c_nationkey,
      |  'phenotype_is_associated_with_disease', min(o_orderpriority),
      |  string_agg(DISTINCT 'pmid:' || o_orderkey, '|'
      |    ORDER BY 'pmid:' || o_orderkey)
      |FROM b JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'P'
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    PhenotypePipeline.edges(s, d)
  }

  private val goAspect =
    "(CASE t % 3 WHEN 0 THEN 'P' WHEN 1 THEN 'F' ELSE 'C' END)"
  private def goNodeLabel(a: String) =
    s"(CASE WHEN $a = 'P' THEN 'biological process' " +
      s"WHEN $a = 'F' THEN 'molecular function' ELSE 'cellular component' END)"
  private def goEdgeAspect(a: String) =
    s"replace(${goNodeLabel(a)}, ' ', '_')"

  val goNodes = Q(
    "go_nodes",
    s"""WITH g AS (SELECT p_partkey % 300 AS t,
       |    replace(translate(min(p_type), '''', '^'), '|', '') AS name
       |  FROM part GROUP BY 1)
       |SELECT 'go:' || t AS id, ${goNodeLabel(goAspect)} AS label, name
       |FROM g""".stripMargin) { (s, d) =>
    graft.pipelines.GoPipeline.nodes(s, d)
  }

  val goEdges = Q(
    "go_edges",
    s"""WITH pg0 AS (SELECT l_suppkey, l_partkey % 300 AS t, l_orderkey,
       |    l_linestatus,
       |    CASE l_returnflag WHEN 'N' THEN 'EXP' WHEN 'A' THEN 'IDA'
       |      ELSE 'IEA' END AS evidence_code
       |  FROM lineitem
       |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 1000)),
       |pg AS (SELECT DISTINCT 'uniprot:' || l_suppkey AS src, 'go:' || t AS dst,
       |    'protein_' || (CASE WHEN l_linestatus = 'O' THEN 'enables'
       |      ELSE 'involved_in' END) || '_' || ${goEdgeAspect(goAspect)} AS label,
       |    'pmid:' || l_orderkey AS reference, evidence_code
       |  FROM pg0 WHERE evidence_code <> 'IEA'),
       |gg0 AS (SELECT DISTINCT p_partkey % 300 AS t,
       |    (p_partkey % 300) // 10 AS parent,
       |    CASE WHEN p_partkey % 2 = 0 THEN 'is_a' ELSE 'part_of' END AS rel
       |  FROM part WHERE p_partkey % 300 <> (p_partkey % 300) // 10),
       |gg AS (SELECT 'go:' || t AS src, 'go:' || parent AS dst,
       |    ${goEdgeAspect(goAspect)} || '_' || rel || '_' ||
       |    ${goEdgeAspect("(CASE parent % 3 WHEN 0 THEN 'P' WHEN 1 THEN 'F' ELSE 'C' END)")} AS label,
       |    CAST(NULL AS VARCHAR) AS reference, CAST(NULL AS VARCHAR) AS evidence_code
       |  FROM gg0),
       |dg AS (SELECT DISTINCT 'interpro:IPR' || (p_partkey % 80) AS src,
       |    'go:' || t AS dst,
       |    'protein_domain_' || (CASE WHEN $goAspect = 'P' THEN 'involved_in'
       |      WHEN $goAspect = 'F' THEN 'enables' ELSE 'located_in' END)
       |      || '_' || ${goEdgeAspect(goAspect)} AS label,
       |    CAST(NULL AS VARCHAR) AS reference, CAST(NULL AS VARCHAR) AS evidence_code
       |  FROM (SELECT p_partkey, p_partkey % 300 AS t FROM part))
       |SELECT * FROM pg UNION ALL SELECT * FROM gg UNION ALL SELECT * FROM dg"""
      .stripMargin) { (s, d) =>
    graft.pipelines.GoPipeline.edges(s, d)
  }

  val domainNodes = Q(
    "domain_nodes",
    """WITH base AS (SELECT p_partkey % 80 AS did, min(p_type) AS name,
      |    min(p_brand) AS type FROM part GROUP BY 1),
      |ch AS (SELECT (child // 4) AS did,
      |    string_agg(DISTINCT 'interpro:IPR' || child, '|'
      |      ORDER BY 'interpro:IPR' || child) AS child_list
      |  FROM (SELECT DISTINCT did AS child FROM base) WHERE child <> child // 4
      |  GROUP BY 1),
      |cnt AS (SELECT l_partkey % 80 AS did,
      |    COUNT(DISTINCT l_suppkey) AS protein_count FROM lineitem GROUP BY 1)
      |SELECT 'interpro:IPR' || b.did AS id, 'domain' AS label,
      |  cnt.protein_count, b.name, b.type,
      |  CASE WHEN b.did // 4 <> b.did
      |    THEN 'interpro:IPR' || (b.did // 4) END AS parent_list,
      |  ch.child_list
      |FROM base b LEFT JOIN ch ON b.did = ch.did
      |LEFT JOIN cnt ON b.did = cnt.did""".stripMargin) { (s, d) =>
    graft.pipelines.DomainPipeline.nodes(s, d)
  }

  val domainEdges = Q(
    "domain_edges",
    """SELECT 'uniprot:' || l_suppkey AS src,
      |  'interpro:IPR' || (l_partkey % 80) AS dst, 'Has' AS label,
      |  string_agg(DISTINCT CAST(l_linenumber AS VARCHAR), '|'
      |    ORDER BY CAST(l_linenumber AS VARCHAR)) AS locations
      |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, d) =>
    graft.pipelines.DomainPipeline.edges(s, d)
  }

  /** uniprot node builder (node_data/uniprot.py build_csv :113-167): one
    * protein node per accession with the ';'-joined secondary-accession
    * fold (:102-107), comma-number mass parse (:128-132, exercised as a
    * format→parse round trip), organism resolved through the taxonomy
    * dimension. */
  val uniprotNodes = Q(
    "uniprot_nodes",
    """WITH sec AS (SELECT l_suppkey,
      |    string_agg(DISTINCT 'SEC' || (l_partkey % 100), ';'
      |      ORDER BY 'SEC' || (l_partkey % 100)) AS secondary_accessions
      |  FROM lineitem GROUP BY 1)
      |SELECT 'uniprot:' || s_suppkey AS id, 'protein' AS label,
      |  sec.secondary_accessions,
      |  CAST(floor(s_acctbal) AS BIGINT) AS length,
      |  CAST(floor(s_acctbal * 1000) AS BIGINT) AS mass,
      |  CAST(s_nationkey AS BIGINT) AS tax_id,
      |  n_name AS organism, s_name AS protein_names
      |FROM supplier
      |LEFT JOIN nation ON s_nationkey = n_nationkey
      |LEFT JOIN sec ON s_suppkey = sec.l_suppkey""".stripMargin) { (s, d) =>
    import graft.core.{ColFns, Tables}
    import graft.ops.Kernels
    val sec = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(Kernels.setJoinAgg(
        concat(lit("SEC"), col("l_partkey") % 100), ";")
        .as("secondary_accessions"))
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"), "left")
      .join(sec, Seq("s_suppkey"), "left")
      .select(concat(lit("uniprot:"), col("s_suppkey")).as("id"),
        lit("protein").as("label"),
        col("secondary_accessions"),
        floor(col("s_acctbal")).cast("long").as("length"),
        // F3 round trip: format with grouping commas, parse them back off
        ColFns.commaLong(format_number(floor(col("s_acctbal") * 1000), 0))
          .as("mass"),
        col("s_nationkey").cast("long").as("tax_id"),
        col("n_name").as("organism"), col("s_name").as("protein_names"))
  }

  /** drug node builder (drug.py:1194-1222): escaped props, absent-prop
    * nulls, configured-subset conform (P10). Declared-but-unselected and
    * missing props are dropped/typed-null by the registry on the Spark
    * side, so the oracle lists exactly the selected subset. Multi-valued
    * `groups` crosses the harness boundary pipe-joined — the reference's
    * own CSV codec (drug.py:1370). */
  val drugNodes = Q(
    "drug_nodes",
    """WITH g AS (SELECT p_partkey,
      |  list_sort(list_filter([
      |    CASE WHEN p_size > 10 THEN 'approved' END,
      |    CASE WHEN p_retailprice > 1500 THEN 'investigational' END],
      |    x -> x IS NOT NULL)) AS groups FROM part)
      |SELECT 'drugbank:DB' || p.p_partkey AS id, 'small_molecule' AS label,
      |  'DB' || p.p_partkey AS drugbank_id,
      |  p.p_partkey || '-' || (p.p_partkey % 100) || '-' || (p.p_partkey % 10)
      |    AS cas_number,
      |  translate(p.p_name, '''|', '^,') AS name,
      |  CASE WHEN len(g.groups) > 0
      |    THEN array_to_string(g.groups, '|') END AS groups,
      |  CASE WHEN p.p_partkey % 3 = 0 THEN 'D' || (p.p_partkey % 10000) END
      |    AS kegg_drug,
      |  'CHEMBL' || p.p_partkey AS chembl
      |FROM part p JOIN g ON p.p_partkey = g.p_partkey""".stripMargin) { (s, d) =>
    Q.pipeBoundary(graft.pipelines.DtiPipeline.nodes(s, d))
  }

  /** disease node builder (disease.py:1355-1407): obsolete-term filter,
    * escaped name/synonyms, presence-conditional xref props. Synonyms cross
    * the harness boundary pipe-joined (the reference's CSV codec). */
  val diseaseNodes = Q(
    "disease_nodes",
    """SELECT 'mondo:' || c_custkey AS id, 'mondo_disease' AS label,
      |  translate(c_name, '''|', '^,') AS name,
      |  array_to_string(list_sort([translate(lower(c_name), '''|', '^,'),
      |    'syn ' || c_custkey]), '|') AS synonyms,
      |  CASE WHEN c_nationkey % 3 = 0 THEN 'C' || c_custkey END AS umls,
      |  CASE WHEN c_nationkey % 3 = 1 THEN 'DOID:' || c_custkey END AS doid,
      |  CASE WHEN c_nationkey % 3 = 2 THEN 'D' || c_custkey END AS mesh
      |FROM customer WHERE c_acctbal >= 0""".stripMargin) { (s, d) =>
    Q.pipeBoundary(graft.pipelines.DiseaseEdgesPipeline.diseaseNodes(s, d))
  }

  /** compound node builder (compound.py:379-401): MOL-structure filter +
    * drugbank anti-join + qualifying-activity semi-join admission. */
  val compoundNodes = Q(
    "compound_nodes",
    """WITH act AS (SELECT DISTINCT l_partkey FROM lineitem
      |    WHERE l_returnflag = 'A' AND l_linestatus = 'F'),
      |map AS (SELECT p_partkey FROM part WHERE p_size > 25)
      |SELECT 'chembl:CHEMBL' || p_partkey AS id, 'compound' AS label,
      |  round(p_retailprice, 3) AS full_mwt,
      |  CAST(p_size AS BIGINT) AS heavy_atoms,
      |  translate(p_type, '''|', '^,') AS smiles,
      |  upper(substr(md5(p_name), 1, 14)) AS inchikey
      |FROM part
      |WHERE p_type LIKE 'MEDIUM%'
      |  AND p_partkey NOT IN (SELECT p_partkey FROM map)
      |  AND p_partkey IN (SELECT l_partkey FROM act)""".stripMargin) { (s, d) =>
    graft.pipelines.CtiPipeline.nodes(s, d)
  }

  /** side-effect node builder (side_effect.py:296-334): priority name
    * union (SIDER > numeric-id OffSides > ADReCS badd), ADReCS synonyms. */
  val sideEffectNodes = Q(
    "side_effect_nodes",
    """WITH b AS (SELECT o_custkey, o_orderstatus
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |sider AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS mid
      |          FROM b WHERE o_orderstatus = 'O'),
      |offs AS (SELECT mid FROM (
      |    SELECT DISTINCT CASE WHEN o_custkey % 7 = 0 THEN 'M' || o_custkey
      |      ELSE CAST(o_custkey AS VARCHAR) END AS mid
      |    FROM b WHERE o_orderstatus = 'P')
      |  WHERE regexp_matches(mid, '^[0-9]+$')),
      |adr AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS mid
      |        FROM b WHERE o_orderstatus = 'F'),
      |u AS (SELECT mid, 1 AS prio FROM sider
      |  UNION ALL SELECT mid, 2 FROM offs
      |  UNION ALL SELECT mid, 3 FROM adr),
      |win AS (SELECT mid, prio FROM (
      |  SELECT mid, prio, row_number() OVER (PARTITION BY mid ORDER BY prio) AS rn
      |  FROM u) WHERE rn = 1)
      |SELECT 'meddra:' || w.mid AS id, 'side_effect' AS label,
      |  CASE w.prio
      |    WHEN 1 THEN translate(c.c_name, '''|"', '^,')
      |    WHEN 2 THEN translate(upper(c.c_name), '''|"', '^,')
      |    ELSE translate('badd ' || c.c_name, '''|"', '^,') END AS name,
      |  CASE WHEN a.mid IS NOT NULL THEN array_to_string(list_sort([
      |    translate(lower(c.c_name), '''|', '^,'), 'syn:' || w.mid]), '|')
      |    END AS synonyms
      |FROM win w
      |JOIN customer c ON w.mid = CAST(c.c_custkey AS VARCHAR)
      |LEFT JOIN adr a ON w.mid = a.mid""".stripMargin) { (s, d) =>
    Q.pipeBoundary(graft.pipelines.SideEffectPipeline.nodes(s, d))
  }

  /** pathway node builder (pathway.py:434-476): Reactome + KEGG union with
    * organism resolution and the KEGG first-'-'-element name trim. */
  val pathwayNodes = Q(
    "pathway_nodes",
    """WITH base AS (SELECT p_partkey, p_name,
      |    CASE WHEN p_size % 2 = 0 THEN 'hsa' ELSE 'mmu' END AS org,
      |    CAST(p_partkey % 40 AS VARCHAR) AS sfx FROM part),
      |k AS (SELECT org || sfx AS kid, min(p_name) AS nm FROM base GROUP BY 1),
      |r AS (SELECT 'R-' || upper(org) || '-' || sfx AS rid, min(p_name) AS nm
      |      FROM base GROUP BY 1)
      |SELECT 'reactome:' || rid AS id, 'pathway' AS label,
      |  translate(nm, '''|', '^,') AS name,
      |  CASE lower(string_split(rid, '-')[2])
      |    WHEN 'hsa' THEN 'Homo sapiens'
      |    WHEN 'mmu' THEN 'Mus musculus' END AS organism
      |FROM r
      |UNION ALL
      |SELECT 'kegg.pathway:' || kid, 'pathway',
      |  translate(trim(string_split(nm, '-')[1]), '''|', '^,'),
      |  CASE substr(kid, 1, 3)
      |    WHEN 'hsa' THEN 'Homo sapiens'
      |    WHEN 'mmu' THEN 'Mus musculus' END
      |FROM k""".stripMargin) { (s, d) =>
    graft.pipelines.PathwayPipeline.nodes(s, d)
  }

  // former twin name, kept registered so the catalogue's name set stays
  // stable: it runs its primary's plan under its primary's oracle
  val sideEffectsFast = sideEffects.copy(name = "side_effects_fast")

  /** ADReCS hierarchy (side_effect.py:402-417): both-ends-mapped
    * child→parent meddra edges. */
  val sideEffectHierarchy = Q(
    "side_effect_hierarchy",
    """WITH d AS (SELECT c_custkey AS f FROM customer WHERE c_custkey % 4 <> 0)
      |SELECT 'meddra:' || c_custkey AS src,
      |  'meddra:' || (c_custkey // 7) AS dst,
      |  'side_effect_is_a_side_effect' AS label
      |FROM customer
      |JOIN d dc ON c_custkey = dc.f
      |JOIN d dp ON (c_custkey // 7) = dp.f
      |WHERE c_custkey >= 7""".stripMargin) { (s, d) =>
    SideEffectPipeline.hierarchyEdges(s, d)
  }

  /** Phenotype node builder (phenotype.py:194-236): hp CURIE, escaped
    * name, and the single-vs-list synonyms quirk (1 synonym → scalar,
    * which coincides with the 1-element list under the pipe CSV codec);
    * the last of the reference's node emits without a query. */
  val phenotypeNodes = Q(
    "phenotype_nodes",
    """SELECT 'hp:' || c_custkey AS id, 'phenotype' AS label,
      |  translate(c_name, '''|', '^,') AS name,
      |  CASE WHEN c_custkey % 3 = 0
      |      THEN translate(lower(c_name), '''|', '^,')
      |    WHEN c_custkey % 3 = 1
      |      THEN array_to_string(list_sort([
      |        translate(lower(c_name), '''|', '^,'),
      |        'syn ' || c_custkey]), '|')
      |  END AS synonyms
      |FROM customer""".stripMargin) { (s, d) =>
    Q.pipeBoundary(graft.pipelines.PhenotypePipeline.nodes(s, d))
  }

  val all: Seq[Q] = Seq(sideEffects, ecNodes, ecEdges, phenotypeEdges,
    goNodes, goEdges, domainNodes, domainEdges, uniprotNodes,
    drugNodes, diseaseNodes, compoundNodes, sideEffectNodes, pathwayNodes,
    sideEffectsFast, sideEffectHierarchy, phenotypeNodes)
}
