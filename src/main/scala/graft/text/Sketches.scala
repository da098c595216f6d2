package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Engine-portable sketches. LIBRARY sketch implementations (a datasketches
  * HLL, approx_percentile) are never reproducible across engines — their
  * register layout and hash are private. Every sketch here is instead built
  * from the portable md5-prefix hash with integer register state, so the
  * ESTIMATE ITSELF is bit-replicable anywhere and can sit under a DuckDB
  * oracle. At 100 TB the per-group state is k values (KMV, mergeable by
  * min-union), m 6-bit registers (HLL, mergeable by max), or bin counts
  * (histogram, mergeable by sum) — vs shuffling every distinct token. */
object Sketches {

  /** Hash space of TextFns.portableHash: md5 hex prefix of 14 nibbles. */
  val HashSpace: Double = math.pow(2, 56)

  /** KMV distinct-token estimate per group: the k-th smallest distinct
    * token hash h₍ₖ₎ estimates distinct-count as (k−1)·2⁵⁶/h₍ₖ₎. Groups
    * with fewer than k distinct hashes fall back to the exact count
    * (kth_hash null). Exact count included for inspection. */
  def kmvDistinctTokens(
      docs: DataFrame, textCol: String, groupCol: String,
      k: Int = 64): DataFrame = {
    val words = docs
      .select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("word"))
      .distinct()
    val hashes = words
      .select(col("g"), TextFns.portableHash(col("word"), lit("kmv")).as("h"))
      .distinct()
    val kth = hashes
      .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("h"))))
      .filter(col("rn") === k)
      .select(col("g"), col("h").as("kth_hash"))
    val exact = words.groupBy(col("g")).agg(countDistinct(col("word")).as("n_exact"))
    exact.join(kth, Seq("g"), "left")
      .select(col("g").as(groupCol), col("n_exact"), col("kth_hash"),
        when(col("kth_hash").isNull, col("n_exact").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(HashSpace)
            / col("kth_hash").cast("double")).as("est"))
  }

  /** The k-min-value sketch itself: per group, the k smallest distinct
    * portable token hashes — the persistable state behind
    * [[kmvDistinctTokens]] and [[kmvSetOps]]. MIN-mergeable: the k-mins
    * of a union are contained in the union of each part's k-mins. */
  def kmvSketch(
      docs: DataFrame, textCol: String, groupCol: String,
      k: Int = 64): DataFrame = {
    val hashes = docs
      .select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("word"))
      .distinct()
      .select(col("g"), TextFns.portableHash(col("word"), lit("kmv")).as("h"))
      .distinct()
    hashes
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("g")).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .select(col("g"), col("h"))
  }

  /** KMV set-operation estimates between every pair of groups: union and
    * intersection distinct-token counts from the two k-min-value sketches
    * ALONE (the θ-sketch algebra) — at 100 TB each source keeps k hashes
    * of state and any source pair is compared without touching the corpus
    * again, vs an exact pair join over all distinct tokens
    * ([[graft.dedup.Dedup.sourceOverlap]]'s shape).
    *
    * Per pair: the union sketch is the k smallest of the two sketches'
    * value union with h₍ₖ₎ estimating the union count as (k−1)·2⁵⁶/h₍ₖ₎;
    * the intersection estimate scales that by the fraction of union-
    * sketch values present in BOTH sketches. Fewer than k union values ⇒
    * both sketches are complete sets and both estimates are EXACT (the
    * kth_hash-null fallback, as [[kmvDistinctTokens]]). All arithmetic on
    * the portable hash in fixed operation order, so the estimates
    * themselves replicate bit-for-bit under a DuckDB oracle.
    *
    * The group-pair frame is a theta join on the GROUP DIMENSION (sources,
    * not rows) — bounded and broadcast, the whitelisted BNLJ class. */
  def kmvSetOps(
      docs: DataFrame, textCol: String, groupCol: String,
      k: Int = 64): DataFrame = {
    // the sketch table is k×|groups| rows; persist it so the corpus-side
    // explode+distinct runs ONCE — the pair algebra below reuses the plan
    // three times and must stay in sketch space, never re-scan the corpus
    val sk = kmvSketch(docs, textCol, groupCol, k).persist()
    val gs = sk.select(col("g")).distinct()
    val gp = gs.toDF("ga").join(gs.toDF("gb"), col("ga") < col("gb"))
    val side = gp.join(sk.toDF("ga", "h"), Seq("ga"))
      .select(col("ga"), col("gb"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
      .unionByName(gp.join(sk.toDF("gb", "h"), Seq("gb"))
        .select(col("ga"), col("gb"), col("h"),
          lit(0).as("in_a"), lit(1).as("in_b")))
    val uni = side.groupBy(col("ga"), col("gb"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val top = uni
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ga"), col("gb")).orderBy(col("h"))))
      .filter(col("rn") <= k)
    val agg = top.groupBy(col("ga"), col("gb")).agg(
      count(lit(1)).as("n_sketch"),
      max(when(col("rn") === k, col("h"))).as("kth"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1).otherwise(0))
        .as("n_both"))
    val estUnion = when(col("kth").isNull, col("n_sketch").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(HashSpace)
        / col("kth").cast("double"))
    agg.select(col("ga").as("src_a"), col("gb").as("src_b"),
      col("n_sketch"), col("n_both"),
      estUnion.as("est_union"),
      when(col("kth").isNull, col("n_both").cast("double"))
        .otherwise((col("n_both").cast("double") / lit(k.toDouble)) * estUnion)
        .as("est_inter"))
  }

  /** HyperLogLog distinct-token estimate per group with PORTABLE registers:
    * bucket = top `p` bits of the 56-bit md5-prefix hash, register M_j =
    * max over the bucket's values of (leading zeros of the remaining
    * 56−p bits + 1) — every register is derived from the portable hash by
    * integer ops (`length(bin(w))` is the msb position on both engines),
    * so unlike a library HLL the whole sketch replicates bit-for-bit
    * under the DuckDB oracle. The raw-estimate harmonic sum is kept
    * EXACT by scaling: Σ 2^−M_j accumulates as BIGINT Σ 2^(57−p−M_j)
    * (each term a left shift — no dyadic-rounding drift), and the only
    * float math is the final α·m²·2^(57−p) ⁄ z division, identical IEEE
    * ops on both engines. No small/large-range corrections (they need
    * ln(); libm differs across engines) — raw HLL graded against the
    * exact count, the x_ann_recall accuracy-meter pattern.
    *
    * Scale: distinct-(group,word) → hash is one shuffle; registers are a
    * partial-aggregating groupBy to m rows per group; the per-group state
    * a 100 TB run persists is m max-mergeable integers. Output per group:
    * (group, n_exact, v_filled, est, rel_err). */
  def hllDistinctTokens(
      docs: DataFrame, textCol: String, groupCol: String,
      p: Int = 7): DataFrame = {
    val words = docs
      .select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("word"))
      .distinct()
    // `words` is already distinct-(g, word): the exact count is a plain
    // count, not a countDistinct (saves the distinct-expansion shuffle)
    val exact = words.groupBy(col("g")).agg(count(lit(1)).as("n_exact"))
    exact.join(hllEstimate(hllRegistersFromWords(words, p), p), Seq("g"))
      .select(col("g").as(groupCol), col("n_exact"), col("v_filled"),
        col("est"),
        ((col("est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
  }

  /** The HLL register table (g, bucket, reg) over distinct (g, word)
    * rows — the sketch's persistable, max-mergeable state. */
  private def hllRegistersFromWords(words: DataFrame, p: Int): DataFrame = {
    val subBits = 56 - p
    words
      .select(col("g"), TextFns.portableHash(col("word"), lit("hll")).as("h"))
      .select(col("g"),
        shiftrightunsigned(col("h"), subBits).as("bucket"),
        col("h").bitwiseAND(lit((1L << subBits) - 1)).as("w"))
      .select(col("g"), col("bucket"),
        when(col("w") === 0, lit(subBits + 1))
          .otherwise(lit(subBits + 1) - length(bin(col("w")))).as("rank"))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rank")).as("reg"))
  }

  /** (g, v_filled, est) from a register table. Empty registers contribute
    * 2^0 = 1 each to the harmonic sum — 2^(subBits+1) in the scaled
    * BIGINT domain. */
  def hllEstimate(regs: DataFrame, p: Int = 7): DataFrame = {
    val m = 1 << p
    val subBits = 56 - p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    regs
      .groupBy(col("g"))
      .agg(count(lit(1)).as("v_filled"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${subBits + 1} - reg)"))
          .as("z_obs"))
      .withColumn("z_scaled",
        col("z_obs") + (lit(m.toLong) - col("v_filled")) * lit(1L << (subBits + 1)))
      .select(col("g"), col("v_filled"),
        (lit(alpha) * lit(m.toDouble * m.toDouble) * lit(math.pow(2, subBits + 1))
          / col("z_scaled").cast("double")).as("est"))
  }

  /** Mergeable fixed-width-histogram quantile sketch, graded against the
    * exact rank answer — the accuracy-measurement pattern (cf.
    * x_ann_recall): the sketch's bin counts are the only state a 100 TB
    * run would keep (mergeable by cell-wise sum, like the CMS), and the
    * estimate for quantile q is the upper edge of the first bin whose
    * cumulative count reaches ⌈q·N⌉. Output per q: (q, target_rank,
    * est_hi, exact, err) — err is the sketch's overshoot, bounded by
    * binWidth−1 by construction (asserted in the spec).
    *
    * All arithmetic is integer (counts, bin edges) except the one
    * ⌈q·N⌉, which both engines evaluate as a single IEEE multiply+ceil.
    * The cumulative windows run over the BIN/VALUE DOMAIN (bounded:
    * bins, distinct lengths), never over the corpus — the corpus is
    * reduced by a partial-aggregating groupBy first, so the
    * single-partition window input is histogram-sized at any sf. */
  def histogramQuantiles(df: DataFrame, valueCol: String, binWidth: Int = 50,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame = {
    val qArr = array(qs.map(lit): _*)
    val v = df.select(col(valueCol).cast("long").as("val"))
    val sk = quantileRanksFromBins(histogramBins(df, valueCol, binWidth), qs)
    val vals = cumAndTotal(
      v.groupBy(col("val")).agg(count(lit(1)).as("cnt")), "val")
    val ex = vals.withColumn("q", explode(qArr))
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col("q")).agg(min(col("val")).as("exact"))
    sk.join(ex, Seq("q"))
      .select(col("q"), col("target_rank"),
        ((col("minbin") + 1) * binWidth - 1).as("est_hi"), col("exact"),
        ((col("minbin") + 1) * binWidth - 1 - col("exact")).as("err"))
  }

  /** The histogram-bin table (bin, cnt) for a value column — the
    * persistable, SUM-mergeable state behind [[histogramQuantiles]]
    * (cell-wise sum over disjoint corpus parts, like the CMS). */
  def histogramBins(df: DataFrame, valueCol: String,
      binWidth: Int = 50): DataFrame =
    df.select(col(valueCol).cast("long").as("val"))
      .groupBy(floor(col("val") / binWidth.toDouble).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** (q, minbin, target_rank) from a bin table: the first bin whose
    * cumulative count reaches ⌈q·N⌉. The cumulative window runs over the
    * BIN domain (bounded), never the corpus. */
  def quantileRanksFromBins(bins: DataFrame, qs: Seq[Double]): DataFrame =
    cumAndTotal(bins, "bin")
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col("q"))
      .agg(min(col("bin")).as("minbin"),
        min(ceil(col("q") * col("n")).cast("long")).as("target_rank"))

  /** GUARDED contract: `ord` must be an integral bin id. The partitionless
    * cumulative windows here are whitelisted in PlanAuditSpec because
    * their input is a BIN aggregate (bounded at any sf); admitting a
    * continuous DOUBLE ordinal would let a corpus-sized domain through
    * the whitelist — the exact straggler the audit bans elsewhere. */
  private def cumAndTotal(grouped: DataFrame, ord: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = grouped.schema(ord).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"cumAndTotal: ordinal '$ord' is $dt — the partitionless cumulative " +
        "window is only scale-safe over a bounded integral bin domain. " +
        "Route continuous values through histogramBins first.")
    val wCum = Window.orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grouped
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
  }
}
