package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, MapType}

/** One registered engine query: a Spark plan builder plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query the
  * driver hash-compares against (see Verify.scala / the driver contract).
  * `oracle = None` → the driver records a weaker rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))

  /** Top-level Array/Map column names — the driver's oracle harness sorts
    * both result frames with pandas before hashing, and array cells crash
    * that sort (`TypeError: unhashable type`). Registered queries must
    * return none of these; see [[pipeBoundary]] for the codec. */
  def complexCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] => f.name
    }.toSeq

  /** Harness-boundary codec for multi-valued props: every top-level array
    * column is pipe-joined to a string (null-preserving), which is ALSO the
    * reference's own CSV encoding for multi-valued cells
    * (node_data/drug.py:1370 `"|".join`, re-split at drug.py:1240-1241).
    * Pipelines keep real ArrayType internally; only the registered query
    * boundary flattens. Element order must already be deterministic
    * (emitters array_sort) — this is a pure join, not a sort. */
  def pipeBoundary(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType => graft.core.ColFns.pipeJoin(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }
}
