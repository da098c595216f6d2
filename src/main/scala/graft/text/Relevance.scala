package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-relevance and corpus-statistics operators for training-data
  * pipelines: TF-IDF term scoring, bigram language-model document scoring
  * (the KenLM-style quality-filter shape), and count-min-sketch heavy
  * hitters.
  *
  * Determinism discipline: every score is FIXED-POINT INTEGER (parts per
  * million via integral division) — no logarithms, no floating-point
  * accumulation — because lib-m `ln` is only 1-ulp-bounded and may differ
  * between engines, which would break the bit-exact DuckDB oracle compare.
  * `(a * 1000000) div b` is exact and engine-identical; the magnitude
  * ordering of tf·idf and LM scores is preserved.
  *
  * Scale shapes:
  *  - TF-IDF: two hash aggregations (doc-term, term) + a 1-row corpus-size
  *    broadcast + a per-doc ranking window (WindowGroupLimit pushes the
  *    top-k).
  *  - Bigram LM: one doc-local window for adjacency (shuffles once on
  *    doc_id), two count aggregations, equi-joins on the bigram/unigram
  *    keys — linear in corpus size.
  *  - CMS: the sketch is depth×width integer cells built in ONE pass
  *    (explode of the depth bucket ids) and broadcast back for probing —
  *    the mergeable-sketch pattern: at 100 TB per-partition sketches merge
  *    by cell-wise sum, and the probe side joins a dimension, never the
  *    corpus.
  */
object Relevance {

  /** Top-k TF-IDF terms per document. idf_ppm = (N · 10⁶) div df — the
    * log-free fixed-point idf (same ordering as N/df, exact in both
    * engines); score_ppm = tf · idf_ppm. Output: (doc_id, rank, term, tf,
    * df, score_ppm), rank 1..k by score desc with term tie-break. */
  def tfIdfTopTerms(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_ppm").desc, col("term").asc)
    tf.join(dft, Seq("term"))
      .crossJoin(broadcast(n)) // 1-row corpus-size dimension
      .withColumn("idf_ppm", expr("(n_docs * 1000000) div df"))
      .withColumn("score_ppm", col("tf") * col("idf_ppm"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("score_ppm"))
  }

  /** BM25 document scoring against the corpus's `qTerms` highest-df terms
    * (a deterministic self-contained query set — df desc, term asc,
    * selected via TakeOrderedAndProject, no window) — the classic
    * retrieval ranking function, carried EXACTLY in integers:
    *
    *  - idf is the Lucene non-negative variant ln(1 + (N−df+0.5)/(df+0.5))
    *    = ln((2N+2)/(2df+1)) — an exact integer ratio through
    *    [[graft.core.QuantLn.lnMicro]], and ≥ 0, so every division below
    *    has a non-negative dividend (sidestepping the engine-divergent
    *    negative integer division);
    *  - the tf saturation with k1 = 6/5, b = 3/4 clears algebraically to
    *      contrib_micro = (idf_micro · 44·L·tf) div (20·L·tf + 6·L + 18·dl·N)
    *    where N = #docs, L = Σ token counts, dl = the doc's token count —
    *    numerator/denominator are exact integers carried in DECIMAL(38,0)
    *    (L·tf·idf_micro can pass 2⁶³ at corpus scale), and the single
    *    integral division lands in BIGINT micro-units.
    *
    * Scale: two hash aggregations (doc-term tf, term df), a one-row (N, L)
    * broadcast, a `qTerms`-row broadcast query dimension, one per-doc sum
    * — no windows, no corpus-side joins beyond the tf table.
    * Output: (doc_id, n_hit, score_micro) for docs hitting ≥ 1 query term. */
  def bm25Scores(
      docs: DataFrame, idCol: String, textCol: String,
      qTerms: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(toks.agg(count(lit(1)).as("len_total")))
    val query = dft.orderBy(col("df").desc, col("term").asc).limit(qTerms)
    val qIdf = query.crossJoin(broadcast(stats))
      .select(col("term"),
        graft.core.QuantLn.lnMicro(
          (lit(2) * col("n_docs") + 2).cast("double") /
            (lit(2) * col("df") + 1).cast("double")).as("idf_micro"))
    tf.join(broadcast(qIdf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_micro", expr(
        """CAST(idf_micro AS DECIMAL(38,0)) * 44 * len_total * tf div
          |(CAST(20 AS DECIMAL(38,0)) * len_total * tf
          | + 6 * len_total + 18 * dl * n_docs)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"),
        sum(col("contrib_micro")).cast("long").as("score_micro"))
  }

  /** Bigram language-model document scoring — the classic LM quality
    * filter: train bigram/unigram counts on the corpus itself, score each
    * document by its bigram transition probabilities p(w|prev) =
    * c₂(prev,w) / c₁(prev), in fixed point (p_ppm = (c₂·10⁶) div c₁).
    * Output: (doc_id, n_bigrams, sum_p_ppm, avg_p_ppm); documents with
    * fewer than 2 tokens have no bigrams and are absent. Low avg_p_ppm =
    * improbable word transitions = the filter signal. */
  /** (doc_id, prev, word) adjacent-token pairs, built by zipping the
    * token array against its own 1-shifted slice — the positional window
    * (posexplode + lag over a per-doc sort shuffle) encoded adjacency the
    * array already has in-row (the round-12 shingle lesson; plain codegen
    * expressions, tokenization evaluated once below the Generate). */
  private def bigramPairs(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = col("__ws")
    val zipped = arrays_zip(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1))
    docs.select(col(idCol).as("doc_id"),
        TextFns.tokens(col(textCol)).as("__ws"))
      .select(col("doc_id"),
        explode(when(size(ws) >= 2, zipped)).as("g"))
      .select(col("doc_id"), col("g").getField("0").as("prev"),
        col("g").getField("1").as("word"))
  }

  /** Unigram occurrence counts over every token — the c₁ denominator
    * table both bigram scorers join on. */
  private def unigramCounts(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextFns.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c1"))
      .select(col("word").as("prev"), col("c1"))

  def bigramLmScore(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = bigramPairs(docs, idCol, textCol)
    val c2 = bi.groupBy(col("prev"), col("word")).agg(count(lit(1)).as("c2"))
    val c1 = unigramCounts(docs, idCol, textCol)
    bi.join(c2, Seq("prev", "word"))
      .join(c1, Seq("prev"))
      .withColumn("p_ppm", expr("(c2 * 1000000) div c1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_ppm")).as("sum_p_ppm"))
      .withColumn("avg_p_ppm", expr("sum_p_ppm div n_bigrams"))
  }

  /** Log-space bigram LM scoring — the perplexity form of
    * [[bigramLmScore]] (the filter FineWeb/CCNet-style pipelines actually
    * rank by: documents with low geometric-mean transition probability =
    * high perplexity = improbable text). lp_micro = ⌊ln(c₂/c₁)·10⁶⌋ is
    * quantized at the bigram-TYPE level — one ln per vocabulary entry,
    * both engines feed the same two BIGINTs through one divide, one ln,
    * one floor — and every per-document aggregate after that is integer.
    * `avg_lp_micro = ⌊sum/n⌋` is −10⁶·ln(perplexity): monotone in
    * perplexity, so ranking by it IS ranking by perplexity without an
    * engine-divergent `exp` at the doc level (the avg divide goes through
    * doubles exactly — |sum| ≪ 2⁵³).
    *
    * Scale: the type table is bigram-vocabulary-sized (partial-agg
    * groupBys); the occurrence⋈type join shuffles on the bigram key; the
    * per-doc sum is the only doc-keyed exchange — same shape at any
    * corpus size. The LM is trained on the scored corpus itself, so
    * every document bigram is observed (c₂ ≥ 1: no zero-prob smoothing
    * needed). */
  def bigramLogScore(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = bigramPairs(docs, idCol, textCol)
    val c2 = bi.groupBy(col("prev"), col("word")).agg(count(lit(1)).as("c2"))
    val c1 = unigramCounts(docs, idCol, textCol)
    val types = c2.join(c1, Seq("prev"))
      .withColumn("lp_micro",
        graft.core.QuantLn.lnMicro(
          col("c2").cast("double") / col("c1").cast("double")))
      .select(col("prev"), col("word"), col("lp_micro"))
    bi.join(types, Seq("prev", "word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp_micro")).as("sum_lp_micro"))
      .withColumn("avg_lp_micro",
        floor(col("sum_lp_micro").cast("double") / col("n_bigrams"))
          .cast("long"))
  }

  /** Per-document token (Shannon) entropy — the diversity filter
    * complementing [[bigramLogScore]]'s predictability: degenerate/spam
    * text (keyword stuffing, template boilerplate) has LOW entropy
    * regardless of its LM probability. H = Σₜ (cₜ/n)·ln(n/cₜ), carried as
    * integers: each distinct (doc, token) row contributes
    * cₜ·⌊ln(n/cₜ)·10⁶⌋ (one ln per row over two exact BIGINTs — engine-
    * replicable), the per-doc sum is n·H·10⁶ up to quantization, and
    * `h_micro = ⌊sum/n⌋` ≈ H·10⁶. Two doc-keyed partial-agg shuffles,
    * no windows, no joins beyond the per-doc count ride-along. */
  def tokenEntropy(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.tokens(col(textCol))).as("word"))
    val counts = toks.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    val n = counts.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    counts.join(n, Seq("doc_id"))
      .withColumn("term_micro",
        col("c") * graft.core.QuantLn.lnMicro(
          col("n").cast("double") / col("c").cast("double")))
      .groupBy(col("doc_id"))
      // max over a per-doc-constant column (never first(): the codebase
      // bans arrival-order dependence even where values coincide)
      .agg(count(lit(1)).as("n_distinct"), max(col("n")).as("n_tokens"),
        sum(col("term_micro")).as("sum_h_micro"))
      .withColumn("h_micro",
        floor(col("sum_h_micro").cast("double") / col("n_tokens"))
          .cast("long"))
  }

  /** DSIR-style importance weights: per-document log-likelihood ratio of a
    * TARGET unigram LM vs the GENERAL LM, for importance-resampling a raw
    * corpus toward a quality domain. Per vocabulary token,
    * llr_micro = ⌊ln( ((c_t+1)/(T+V)) · ((G+V)/(c_g+1)) ) · 10⁶⌋ (add-one
    * smoothing); a document's score is the sum of llr_micro over its token
    * occurrences. The ln is quantized to BIGINT microunits at the VOCAB
    * level — both engines feed identical doubles through one ln and one
    * floor, and every per-document aggregate after that is integer.
    *
    * Scale: the vocab-weight table is a broadcast dimension (|V| rows);
    * the corpus-side token explode joins it map-side, so the only wide
    * shuffle is the per-document sum — the same shape at any corpus size. */
  def importanceWeights(
      docs: DataFrame, idCol: String, textCol: String,
      isTargetCol: Column): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      isTargetCol.as("is_target"),
      explode(TextFns.tokens(col(textCol))).as("token"))
    val counts = toks.groupBy(col("token")).agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("c_t"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("c_g"))
    val tot = counts.agg(sum(col("c_t")).as("t_tot"),
      sum(col("c_g")).as("g_tot"), count(lit(1)).as("v_sz"))
    val vocab = counts.crossJoin(broadcast(tot))
      .withColumn("llr_micro",
        graft.core.QuantLn.lnMicro(
          ((col("c_t") + 1) / (col("t_tot") + col("v_sz"))) *
            ((col("g_tot") + col("v_sz")) / (col("c_g") + 1))))
      .select(col("token"), col("llr_micro"))
    toks.join(broadcast(vocab), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("llr_micro")).as("score_micro"))
  }

  /** Count-min-sketch heavy hitters: a depth×width integer sketch over all
    * corpus tokens (hashes are the engine-portable md5 family, salts
    * cms0..cms{d-1}), probed for every token whose EXACT count ≥
    * `minExact`. Output: (token, exact_n, cms_est) with cms_est = min over
    * rows of the probed cells — always ≥ exact_n (the CMS overestimation
    * guarantee, asserted in the spec). The exact side exists to oracle-
    * check the estimate; a production pipeline keeps only the sketch. */
  def cmsHeavyHitters(
      docs: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 1024, minExact: Long = 100): DataFrame = {
    val toks = docs.select(explode(TextFns.tokens(col(textCol))).as("token"))
    val sketch = cmsCellsFromTokens(toks, depth, width)
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .filter(col("exact_n") >= minExact)
    val probes = exact.select(col("token"), col("exact_n"),
      posexplode(cmsBuckets(depth, width)).as(Seq("r", "b")))
    probes.join(broadcast(sketch), Seq("r", "b"))
      .groupBy(col("token"), col("exact_n"))
      .agg(min(col("c")).as("cms_est"))
  }

  /** The depth bucket ids of col("token") as an array (row i = salt cmsN
    * hash mod width). */
  private def cmsBuckets(depth: Int, width: Int): Column =
    array((0 until depth).map(i =>
      pmod(TextFns.portableHash(col("token"), lit(s"cms$i")),
        lit(width.toLong))): _*)

  /** The sparse CMS cell table (r, b, c) over a token column (an absent
    * cell ≡ 0). */
  private def cmsCellsFromTokens(
      toks: DataFrame, depth: Int, width: Int): DataFrame =
    toks.select(posexplode(cmsBuckets(depth, width)).as(Seq("r", "b")))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))

  /** PMI-style collocation mining: top-k adjacent word pairs by lift over
    * unigram independence, lift_ppm = (c_xy · 10⁶ · N) div (c_x · c_y) —
    * log-free fixed point (same ordering as PMI, exact and engine-
    * identical; see the module scaladoc). Admission c_xy ≥ `minCount`
    * keeps the rare-pair noise floor out; the ranking tie-breaks on
    * (w1, w2) so top-k is a total order.
    *
    * Integer bound: c_xy · 10⁶ · N < 2⁶³ holds while c_xy·N ≤ 9.2·10¹²
    * (comfortably true for any per-partition or benched corpus here; a
    * full 100 TB run would shard the count tables and rescale to ppb
    * per shard before merging). The bound is ENFORCED: exceeding it
    * raises on the Spark side too (non-ANSI BIGINT would otherwise wrap
    * silently while the DuckDB oracle errors — a silent wrong answer on
    * one engine and a loud one on the other).
    *
    * Scale: bigram adjacency comes from the shared in-array zip
    * ([[bigramPairs]] — no window, no doc-keyed shuffle); counts are
    * partial-aggregating groupBys; the unigram joins key on the word —
    * and the final top-k is a TakeOrdered, never a global sort. */
  def pmiCollocations(
      docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5, topK: Int = 50): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.tokens(col(textCol))).as("word"))
    val bi = bigramPairs(docs, idCol, textCol)
      .select(col("prev").as("w1"), col("word").as("w2"))
    val pair = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uni = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val total = words.agg(count(lit(1)).as("n_tokens"))
    pair
      .join(uni.select(col("word").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm",
        when(col("c_xy") <= lit(Long.MaxValue / 1000000L) / col("n_tokens"),
          expr("(c_xy * 1000000 * n_tokens) div (c_x * c_y)"))
          .otherwise(raise_error(concat(
            lit("pmiCollocations: c_xy*n_tokens exceeds the 64-bit ppm " +
              "bound (shard the count tables and rescale, see scaladoc); " +
              "c_xy="), col("c_xy"), lit(" n_tokens="), col("n_tokens")))))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Multinomial Naive Bayes — TRAIN on the corpus's own labels and SCORE
    * every document in one dataflow (the classic distributed quality/
    * domain classifier: the model is nothing but count tables, so
    * training is two hash aggregations and scoring is an equi-join —
    * no gradient loop, no driver state). Add-one smoothing:
    * p(w|s) = (c_sw + 1)/(N_s + V); score(d,s) = ln p(s) + Σ_w ln p(w|s).
    *
    * Determinism: every ln is quantized to BIGINT microunits at the
    * (class, token) TYPE level — both engines feed the same two exact
    * BIGINTs through one divide and one ln (the [[bigramLogScore]]
    * discipline); per-document accumulation is then pure integer
    * arithmetic. Unseen (class, token) cells share one per-class default
    * ⌊ln(1/(N_s+V))·10⁶⌋, so the scoring join only needs OBSERVED model
    * rows: score = prior + Σ_matched tf·lw + (n_tokens − n_matched)·def.
    *
    * Scale: model/vocab/prior tables are token- or class-domain
    * aggregations (partial agg, broadcast back as dimensions); the
    * scoring join is keyed on the token; the doc×class score matrix is
    * |classes| rows per doc and the argmax window's partition is that
    * same bounded group. Output: (doc_id, predicted, score_micro,
    * actual, correct). */
  def naiveBayesClassify(docs: DataFrame, idCol: String, textCol: String,
      classCol: String): DataFrame =
    naiveBayesClassifyFromMatrix(
      nbScoreMatrix(docs, idCol, textCol, classCol))

  /** [[naiveBayesClassify]] over a PRECOMPUTED (doc_id, cl, actual,
    * score_micro) matrix — the persist-and-derive entry point: the
    * matrix is the expensive artifact (token-shuffle + model join), the
    * argmax here is one bounded-group window over it, so the three
    * matrix consumers (classify / label-issues / abstention) can share
    * one materialized table instead of recomputing the shuffle each. */
  def naiveBayesClassifyFromMatrix(scores: DataFrame): DataFrame = {
    val wArg = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("cl").asc)
    scores.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cl").as("predicted"), col("score_micro"),
        col("actual"), (col("cl") === col("actual")).as("correct"))
  }

  /** Confident-learning-style label-issue detection (the Northcutt
    * confident-joint recipe adapted to quantized NB log-scores): class
    * j's confidence threshold is the MEAN self-score of documents
    * labeled j; a document is flagged when its argmax class differs from
    * its given label AND its score for that argmax class clears that
    * class's threshold — it sits confidently inside another class's
    * region, the signature of a mislabel. The mean comparison is
    * DIVISION-FREE (score·n_j ≥ Σ scores_j, in DECIMAL — negative
    * integer division truncates toward zero on Spark but floors on
    * DuckDB, so the quotient form would diverge cross-engine; the
    * product form is exact). Output: (doc_id, actual, predicted,
    * flagged). */
  def nbLabelIssues(docs: DataFrame, idCol: String, textCol: String,
      classCol: String): DataFrame =
    nbLabelIssuesFromMatrix(nbScoreMatrix(docs, idCol, textCol, classCol))

  /** [[nbLabelIssues]] over a precomputed score matrix (see
    * [[naiveBayesClassifyFromMatrix]]). */
  def nbLabelIssuesFromMatrix(mat: DataFrame): DataFrame = {
    val thr = mat.filter(col("cl") === col("actual"))
      .groupBy(col("cl"))
      .agg(sum(col("score_micro")).as("t_sum"), count(lit(1)).as("t_n"))
    val wArg = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("cl").asc)
    val arg = mat.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cl").as("predicted"), col("actual"),
        col("score_micro"))
    arg.join(broadcast(thr.withColumnRenamed("cl", "predicted")),
        Seq("predicted"))
      .select(col("doc_id"), col("actual"), col("predicted"),
        (col("predicted") =!= col("actual") &&
          col("score_micro").cast("decimal(38,0)") * col("t_n") >=
            col("t_sum").cast("decimal(38,0)")).as("flagged"))
  }

  /** Selective classification (abstention) over the NB score matrix: the
    * decision margin is top1 − top2 score (integer microunits — exact),
    * and documents whose margin falls below `marginMicro` ABSTAIN — the
    * route-to-human-review policy a labeling pipeline runs instead of
    * trusting low-confidence argmaxes. Output: (doc_id, actual,
    * predicted, margin_micro, abstain). Single-class corpora have no
    * runner-up: margin = NULL, abstain = true (nothing to be confident
    * against). */
  def nbAbstention(docs: DataFrame, idCol: String, textCol: String,
      classCol: String, marginMicro: Long): DataFrame =
    nbAbstentionFromMatrix(
      nbScoreMatrix(docs, idCol, textCol, classCol), marginMicro)

  /** [[nbAbstention]] over a precomputed score matrix (see
    * [[naiveBayesClassifyFromMatrix]]). */
  def nbAbstentionFromMatrix(mat: DataFrame, marginMicro: Long): DataFrame = {
    val wArg = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("cl").asc)
    val ranked = mat.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") <= 2)
    val top1 = ranked.filter(col("rn") === 1)
      .select(col("doc_id"), col("actual"), col("cl").as("predicted"),
        col("score_micro").as("s1"))
    val top2 = ranked.filter(col("rn") === 2)
      .select(col("doc_id"), col("score_micro").as("s2"))
    top1.join(top2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("actual"), col("predicted"),
        (col("s1") - col("s2")).as("margin_micro"),
        coalesce(col("s1") - col("s2") < marginMicro, lit(true))
          .as("abstain"))
  }

  /** The full per-(document, class) NB score matrix behind
    * [[naiveBayesClassify]] — exposed because threshold-based analyses
    * (confident-learning label issues, abstention) need every class's
    * score, not just the argmax. Output: (doc_id, cl, actual,
    * score_micro), |classes| rows per document. */
  def nbScoreMatrix(docs: DataFrame, idCol: String, textCol: String,
      classCol: String): DataFrame = {
    // the model is two count tables: per-(class, token) counts `m` and
    // per-class document counts `cls`; vocab size, per-class token totals,
    // priors and smoothed log-weights all derive from them
    val tok = docs.select(col(classCol).as("cl"),
      explode(TextFns.tokens(col(textCol))).as("w"))
    val m = tok.groupBy(col("cl"), col("w")).agg(count(lit(1)).as("c"))
    val cls = docs.groupBy(col(classCol).as("cl"))
      .agg(count(lit(1)).as("n_docs"))
    val base = docs.select(col(idCol).as("doc_id"), col(classCol).as("cl"),
      TextFns.tokens(col(textCol)).as("ws"))
    val ns = m.groupBy(col("cl")).agg(sum(col("c")).as("n_s"))
    val vocab = m.select(col("w")).distinct().agg(count(lit(1)).as("vocab"))
    val tot = cls.agg(sum(col("n_docs")).as("total_docs"))
    val lw = m.join(ns, Seq("cl")).crossJoin(broadcast(vocab))
      .select(col("cl"), col("w"),
        graft.core.QuantLn.lnMicro((col("c") + 1).cast("double") /
          (col("n_s") + col("vocab")).cast("double")).as("lw_micro"))
    val defs = ns.crossJoin(broadcast(vocab))
      .select(col("cl"),
        graft.core.QuantLn.lnMicro(
          lit(1.0) / (col("n_s") + col("vocab")).cast("double"))
          .as("def_micro"))
    val pri = cls.crossJoin(broadcast(tot))
      .select(col("cl"),
        graft.core.QuantLn.lnMicro(col("n_docs").cast("double") /
          col("total_docs").cast("double")).as("pri_micro"))
    val dt = base.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val ntok = base.select(col("doc_id"), col("cl").as("actual"),
      size(col("ws")).cast("long").as("n_tokens"))
    val matched = dt.join(lw, Seq("w"))
      .groupBy(col("doc_id"), col("cl"))
      .agg(sum(col("tf") * col("lw_micro")).as("s_matched"),
        sum(col("tf")).as("n_matched"))
    ntok.crossJoin(broadcast(cls.select(col("cl"))))
      .join(matched, Seq("doc_id", "cl"), "left")
      .join(broadcast(pri), Seq("cl"))
      .join(broadcast(defs), Seq("cl"))
      .select(col("doc_id"), col("cl"), col("actual"),
        (col("pri_micro") + coalesce(col("s_matched"), lit(0L)) +
          (col("n_tokens") - coalesce(col("n_matched"), lit(0L))) *
            col("def_micro")).as("score_micro"))
  }

  /** Per-class confusion summary over (actual, predicted) rows — the
    * evaluation table every classifier stage needs: n_actual,
    * n_predicted, n_correct, precision/recall in integer ppm (integral
    * division — exact in both engines). The class domain is the union of
    * actual and predicted labels; a side with zero count yields a null
    * ratio, never a divide-by-zero. Three class-keyed partial
    * aggregations + one outer join over the class DIMENSION — bounded at
    * any corpus size. */
  def classifierEval(pred: DataFrame, actualCol: String,
      predictedCol: String): DataFrame = {
    val a = pred.groupBy(col(actualCol).as("cl"))
      .agg(count(lit(1)).as("n_actual"))
    val p = pred.groupBy(col(predictedCol).as("cl"))
      .agg(count(lit(1)).as("n_predicted"))
    val c = pred.filter(col(actualCol) === col(predictedCol))
      .groupBy(col(actualCol).as("cl"))
      .agg(count(lit(1)).as("n_correct"))
    a.join(p, Seq("cl"), "full_outer")
      .join(c, Seq("cl"), "left")
      .select(col("cl"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("precision_ppm",
        when(col("n_predicted") > 0,
          expr("(n_correct * 1000000) div n_predicted")))
      .withColumn("recall_ppm",
        when(col("n_actual") > 0,
          expr("(n_correct * 1000000) div n_actual")))
  }
}
