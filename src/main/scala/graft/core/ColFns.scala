package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-function library (SURVEY.md §2.9, §7.1 step 1).
  *
  * Every helper is a pure Catalyst column expression — no Scala UDFs — so all
  * of them stay inside whole-stage codegen and are visible to the optimizer
  * (constant folding, predicate pushdown through them where legal).
  *
  * Reference semantics each function encodes (file:line cites are to
  * /root/reference):
  *  - curie:        `add_prefix_to_id` → `normalize_curie(prefix + ":" + id)`
  *                  (node_data/ec.py:315-323 and every adapter).
  *  - escapeProps:  Neo4j-safe CSV escaping `'`→`^`, `|`→`,`
  *                  (node_data/ec.py:122-149, node_data/go.py:404).
  *  - pipeJoin/pipeSplit: multi-valued cells are pipe-delimited strings at
  *                  CSV boundaries (node_data/drug.py:1370, :1240-1241);
  *                  internally we keep real ArrayType.
  *  - emptyToNull: "" canonicalization
  *                  (node_data/drug.py:427-428, node_data/compound.py:184,192-193).
  *  - commaLong:    comma-grouped number parse, "53,651" → 53651L
  *                  (node_data/uniprot.py:128-132).
  *  - stripXrefs:   trailing-";" xref cleanup: split, drop empties
  *                  (node_data/uniprot.py:37-46).
  *  - canonicalU/V: unordered-pair canonicalization backing undirected dedup
  *                  (edge_data/ppi.py:142 `frozenset` idiom).
  */
object ColFns {

  /** CURIE prefixing: `curie("uniprot", $"acc")` → "uniprot:P12345".
    * Prefix is normalized to lower case (bioregistry convention); the local
    * id keeps its case. Null id → null (no dangling "prefix:" strings).
    */
  def curie(prefix: String, id: Column): Column =
    when(id.isNotNull, concat(lit(prefix.toLowerCase + ":"), id.cast("string")))

  /** Neo4j-safe property escaping: single-quote → caret, pipe → comma.
    * Applied only at the CSV sink, never internally. */
  def escapeProps(c: Column): Column = translate(c, "'|", "^,")

  /** Array → pipe-joined string (CSV boundary codec). Null-safe: null array
    * stays null rather than becoming "". */
  def pipeJoin(c: Column): Column = when(c.isNotNull, concat_ws("|", c))

  /** Pipe-joined string → array; null → empty array so downstream
    * flatten/union aggregation is total. */
  def pipeSplit(c: Column): Column =
    when(c.isNull, array().cast("array<string>")).otherwise(split(c, "\\|"))

  /** "" → null. */
  def emptyToNull(c: Column): Column = when(c =!= "", c)

  /** "53,651" → 53651 (uniprot.py:128-132 mass parse). */
  def commaLong(c: Column): Column =
    regexp_replace(c, ",", "").cast("long")

  /** ";"-terminated xref list → array with empties removed
    * (uniprot.py:37-46). */
  def stripXrefs(c: Column): Column =
    filter(split(c, ";"), x => trim(x) =!= "")

  /** Versioned-identifier base: strip a trailing ".N" version or " [note]"
    * suffix — the ENST→ENSG preprocessing step (uniprot.py:50-71,
    * disease.py:1656-1665 F2); the cross-reference join happens against a
    * mapping table afterwards. */
  def idBase(c: Column): Column =
    regexp_extract(c, "^([^.\\s\\[]+)", 1)

  /** Canonical unordered-pair key halves: (least, greatest). Works for any
    * orderable type; backs SURVEY §2.8 D2. */
  def canonicalU(a: Column, b: Column): Column = least(a, b)
  def canonicalV(a: Column, b: Column): Column = greatest(a, b)

  /** Order-insensitive merge of two pipe-encoded multi-value cells into a
    * sorted deduped pipe string (J2 source-column merge, made deterministic
    * for distributed execution — see SURVEY §7.3 risk 1). Null-safe on
    * either side; both null → null. */
  def mergePipes(x: Column, y: Column): Column = {
    val merged = array_sort(array_distinct(concat(pipeSplit(x), pipeSplit(y))))
    when(size(merged) > 0, concat_ws("|", merged))
  }
}
