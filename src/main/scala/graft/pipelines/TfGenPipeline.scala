package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ColFns, Tables}
import graft.ops.Kernels

/** TF→gene regulation integration — the Spark re-expression of the
  * reference's tf_gen merge (edge_data/tf_gen.py: merge_tf_gen_data
  * :284-325): three sources (TRRUST / DoRothEA / CollecTRI) each reduced
  * per (tf, target) with the effect-conflict fold (:381-395), then merged
  * in the reference's order — (dorothea ⟗ collectri) first, that result ⟗
  * trrust — with pipe-merged source/pubmed columns and the PAIRWISE effect
  * fold applied to the column twins after each join, dropping rows whose
  * effect conflicts away (dropna at :298,310).
  *
  * Analog mapping onto the driver's star schema: a regulation ≈ a
  * (supplier → part) lineitem, the three sources are disjoint ship-date
  * slices, the effect domain is derived deterministically from quantity
  * (mod 3 → Activation / Repression / Unknown — all three values and real
  * conflicts occur), a publication ≈ the order.
  *
  * Scale: each source is one hash-aggregate on (tf, target); the two
  * full-outer joins share that same key partitioning, so Catalyst reuses
  * the exchange — one shuffle per source, the n-way-merge lower bound.
  * No broadcast needed (all sides are fact-sized), no driver state.
  */
object TfGenPipeline {

  private def effectOf(q: org.apache.spark.sql.Column) = {
    // floor() explicitly: DuckDB CAST(double AS BIGINT) rounds, Spark
    // truncates — floor agrees everywhere on the non-negative quantities
    val m = floor(q).cast("long") % 3
    when(m === 0, "Activation").when(m === 1, "Repression").otherwise("Unknown")
  }

  /** One source: ship-date slice → per-(tf, target) effect fold + pubmed
    * set-union; conflicting groups drop out (tf_gen.py per-source
    * groupby + dropna). */
  private def source(
      s: SparkSession, d: String, lo: String, hi: String, name: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(lo).cast("timestamp")
        && col("l_shipdate") < lit(hi).cast("timestamp"))
      .select(
        ColFns.curie("tf", col("l_suppkey")).as("tf"),
        ColFns.curie("gene", col("l_partkey")).as("target"),
        effectOf(col("l_quantity")).as("eff"),
        concat(lit("pmid:"), col("l_orderkey")).as("pmid"))
      .groupBy(col("tf"), col("target"))
      .agg(Kernels.effectFold(col("eff")).as("tf_effect"),
        Kernels.setJoinAgg(col("pmid")).as("pubmed_id"))
      .filter(col("tf_effect").isNotNull)
      .withColumn("source", lit(name))

  private[pipelines] def dorothea(s: SparkSession, d: String): DataFrame =
    source(s, d, "1992-01-01 00:00:00", "1995-01-01 00:00:00", "dorothea")
  private[pipelines] def collectri(s: SparkSession, d: String): DataFrame =
    source(s, d, "1995-01-01 00:00:00", "1997-01-01 00:00:00", "collectri")
  private[pipelines] def trrust(s: SparkSession, d: String): DataFrame =
    source(s, d, "1997-01-01 00:00:00", "2099-01-01 00:00:00", "trrust")

  /** One reference merge step (tf_gen.py:285-310): full-outer on the pair
    * key, pipe-merge source/pubmed twins, pairwise effect fold, drop
    * conflicts. */
  private def mergeStep(l: DataFrame, r: DataFrame): DataFrame = {
    val lr = l.select(col("tf"), col("target"), col("source").as("src_l"),
      col("pubmed_id").as("pm_l"), col("tf_effect").as("ef_l"))
    val rr = r.select(col("tf"), col("target"), col("source").as("src_r"),
      col("pubmed_id").as("pm_r"), col("tf_effect").as("ef_r"))
    lr.join(rr, Seq("tf", "target"), "full_outer")
      .select(col("tf"), col("target"),
        ColFns.mergePipes(col("src_l"), col("src_r")).as("source"),
        ColFns.mergePipes(col("pm_l"), col("pm_r")).as("pubmed_id"),
        Kernels.effectMergePair(col("ef_l"), col("ef_r")).as("tf_effect"))
      .filter(col("tf_effect").isNotNull)
  }

  /** The full merge in reference order: (dorothea ⟗ collectri) ⟗ trrust. */
  def merged(s: SparkSession, d: String): DataFrame =
    mergeStep(mergeStep(dorothea(s, d), collectri(s, d)), trrust(s, d))
}
