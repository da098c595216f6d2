package graft.queries

import graft.Q
import graft.pipelines.PpiPipeline

/** The flagship multi-source integration pipeline (ppi.py analog) and its
  * node/edge emit, each oracle-checked end-to-end. The shared oracle CTE
  * block replicates every stage: windowed pair generation, SwissProt-analog
  * semi-filter, symbol-mapping join, keep-best window + pubmed set-union,
  * high-confidence threshold, and the chained full-outer merge with
  * source/pubmed set-union and left-priority coalescing.
  */
object PipelineQueries {

  /** Shared DuckDB CTE block reproducing the three per-source pipelines and
    * the merge (see PpiPipeline scaladoc for the reference mapping). The
    * biogrid symbol round-trip (key → upper(name) → key) is the identity on
    * the reviewed set because supplier names are unique, so the oracle
    * expresses it as the equivalent membership filter. */
  private val mergeCtes: String =
    """WITH rev AS (SELECT s_suppkey FROM supplier WHERE s_acctbal > 1000),
      |li1 AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
      |li2 AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
      |li3 AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '2099-01-01 00:00:00'),
      |ip AS (
      |  SELECT 'supp:' || a.l_suppkey AS a, 'supp:' || b.l_suppkey AS b,
      |         a.l_orderkey AS l_orderkey, a.l_linenumber ln_a, b.l_linenumber ln_b,
      |         (a.l_discount + b.l_discount) / 2 AS score, a.l_linestatus AS ls_a
      |  FROM li1 a JOIN li1 b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  WHERE a.l_suppkey IN (SELECT s_suppkey FROM rev)
      |    AND b.l_suppkey IN (SELECT s_suppkey FROM rev)),
      |ibest AS (SELECT a, b, score, ls_a AS method FROM ip
      |  QUALIFY row_number() OVER (PARTITION BY a, b ORDER BY score DESC, l_orderkey, ln_a, ln_b, ls_a) = 1),
      |ipm AS (SELECT a, b, string_agg(DISTINCT 'pmid:' || l_orderkey, '|' ORDER BY 'pmid:' || l_orderkey) AS pubmeds
      |        FROM ip GROUP BY a, b),
      |intact AS (SELECT ibest.a, ibest.b, score, method, pubmeds FROM ibest JOIN ipm USING (a, b)),
      |bp AS (
      |  SELECT 'supp:' || a.l_suppkey AS a, 'supp:' || b.l_suppkey AS b,
      |         a.l_orderkey AS l_orderkey, a.l_linenumber ln_a, b.l_linenumber ln_b,
      |         'exp:' || a.l_linestatus AS method
      |  FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  WHERE a.l_suppkey IN (SELECT s_suppkey FROM rev)
      |    AND b.l_suppkey IN (SELECT s_suppkey FROM rev)),
      |bbest AS (SELECT a, b, method FROM bp
      |  QUALIFY row_number() OVER (PARTITION BY a, b ORDER BY l_orderkey, ln_a, ln_b, method) = 1),
      |bpm AS (SELECT a, b, string_agg(DISTINCT 'pmid:' || l_orderkey, '|' ORDER BY 'pmid:' || l_orderkey) AS pubmeds
      |        FROM bp GROUP BY a, b),
      |biogrid AS (SELECT bbest.a, bbest.b, method, pubmeds FROM bbest JOIN bpm USING (a, b)),
      |sp AS (
      |  SELECT 'supp:' || a.l_suppkey AS a, 'supp:' || b.l_suppkey AS b,
      |         a.l_orderkey AS l_orderkey, a.l_linenumber ln_a, b.l_linenumber ln_b,
      |         CAST(floor(1000 * (1 - (a.l_discount + b.l_discount) / 2)) AS BIGINT) AS cs
      |  FROM li3 a JOIN li3 b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
      |strng AS (SELECT a, b, CAST(cs AS DOUBLE) / 1000 AS score FROM sp
      |  WHERE cs >= 700
      |  QUALIFY row_number() OVER (PARTITION BY a, b ORDER BY cs DESC, l_orderkey, ln_a, ln_b) = 1),
      |merged AS (
      |  SELECT COALESCE(i.a, g.a, s.a) AS a, COALESCE(i.b, g.b, s.b) AS b,
      |    CONCAT_WS('|',
      |      CASE WHEN g.a IS NOT NULL THEN 'biogrid' END,
      |      CASE WHEN i.a IS NOT NULL THEN 'intact' END,
      |      CASE WHEN s.a IS NOT NULL THEN 'string' END) AS source,
      |    NULLIF(array_to_string(list_sort(list_distinct(list_concat(
      |      COALESCE(string_split(i.pubmeds, '|'), []),
      |      COALESCE(string_split(g.pubmeds, '|'), [])))), '|'), '') AS pubmeds,
      |    COALESCE(i.method, g.method) AS method,
      |    COALESCE(i.score, s.score) AS score
      |  FROM intact i
      |  FULL OUTER JOIN biogrid g ON i.a = g.a AND i.b = g.b
      |  FULL OUTER JOIN strng s ON COALESCE(i.a, g.a) = s.a AND COALESCE(i.b, g.b) = s.b)
      |""".stripMargin

  val ppiFlagship = Q(
    "ppi_flagship",
    mergeCtes +
      "SELECT a, b, source, pubmeds, method, score FROM merged") {
    (s, d) => PpiPipeline.merged(s, d)
  }

  // former twin name, kept registered so the catalogue's name set stays
  // stable: it runs its primary's plan under its primary's oracle
  val ppiFlagshipFast = ppiFlagship.copy(name = "ppi_flagship_fast")

  val ppiEdges = Q(
    "ppi_edges",
    mergeCtes +
      """SELECT 'ppi_' || a || '_' || b AS rel_id, a AS src, b AS dst,
        |  'protein_interacts_with_protein' AS label,
        |  CONCAT_WS('|',
        |    CASE WHEN source IS NOT NULL THEN 'source=' || translate(source, '''|', '^,') END,
        |    CASE WHEN pubmeds IS NOT NULL THEN 'pubmeds=' || translate(pubmeds, '''|', '^,') END,
        |    CASE WHEN method IS NOT NULL THEN 'method=' || translate(method, '''|', '^,') END,
        |    CASE WHEN score IS NOT NULL THEN 'score=' || CAST(score AS VARCHAR) END) AS props
        |FROM merged""".stripMargin) {
    (s, d) => PpiPipeline.edges(s, d)
  }

  val ppiNodes = Q(
    "ppi_nodes",
    mergeCtes +
      """, ids AS (SELECT a AS id FROM merged UNION SELECT b FROM merged)
        |SELECT 'supp:' || s_suppkey AS id, 'protein' AS label,
        |  CONCAT_WS('|', 'name=' || translate(s_name, '''|', '^,'),
        |                 'nation=' || s_nationkey) AS props
        |FROM supplier WHERE 'supp:' || s_suppkey IN (SELECT id FROM ids)""".stripMargin) {
    (s, d) => PpiPipeline.nodes(s, d)
  }

  // former twin name, kept registered so the catalogue's name set stays
  // stable: it runs its primary's plan under its primary's oracle
  val ppiEdgesFast = ppiEdges.copy(name = "ppi_edges_fast")

  val all: Seq[Q] = Seq(ppiFlagship, ppiFlagshipFast, ppiEdges, ppiNodes,
    ppiEdgesFast)
}
