package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.core.{Artifacts, Tables}
import graft.dedup.Dedup
import graft.text.TextFns

/** Text-analysis queries over the documents table: token/quality stats,
  * language-ID, bag-of-words fingerprint dedup. Oracles replicate every
  * expression (same fold order, same regexes) in DuckDB SQL. */
object TextQueries {

  private val wsCte =
    """WITH t AS (SELECT doc_id, text, lang,
      |  string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents)
      |""".stripMargin

  val xTextStats = Q(
    "x_text_stats",
    wsCte +
      """SELECT doc_id,
        |  len(ws) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish,
        |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS avg_token_len,
        |  CAST(len(regexp_replace(text, '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio,
        |  CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(ws) AS stopword_ratio,
        |  least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
        |    + CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(ws) * 0.4
        |    + (1.0 - CAST(len(regexp_replace(text, '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE) / len(text)) * 0.2 AS quality
        |FROM t""".stripMargin) { (s, d) =>
    val text = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      // BIGINT on both engines (DuckDB len() is BIGINT, Spark size() is INT)
      TextFns.tokenCount(text).cast("long").as("n_tokens"),
      TextFns.bpeishCount(text).cast("long").as("n_bpeish"),
      TextFns.avgTokenLen(text).as("avg_token_len"),
      TextFns.punctRatio(text).as("punct_ratio"),
      TextFns.stopwordRatio(text).as("stopword_ratio"),
      TextFns.qualityScore(text).as("quality"))
  }

  /** DuckDB replica of TextFns.langId's argmax-with-code-ascending-ties:
    * per-language stopword-hit comparisons folded to one CASE over `ws`. */
  private val langIdCaseSql: String = {
    def hits(l: String) = {
      val words = TextFns.stopwords(l).map(w => s"'$w'").mkString(",")
      s"len(list_filter(ws, w -> w IN ($words)))"
    }
    val langs = TextFns.stopwords.keys.toSeq.sorted // de,en,es,fr,zh
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      val conds = rest.map(r => s"${hits(l)} >= ${hits(r)}").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }

  val xLangId = Q(
    "x_lang_id",
    wsCte +
      s"""SELECT doc_id, lang, $langIdCaseSql AS predicted
         |FROM t""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"), TextFns.langId(col("text")).as("predicted"))
  }

  /** Exact per-language token-count quantiles — corpus-analysis stats with
    * a DETERMINISTIC quantile definition (value at rank ceil(q·n) ordered
    * by (value, doc_id)), not approx_percentile: bit-replicable by any
    * engine.
    *
    * Scale shape (the x_mad distinct-VALUE idiom): token counts are a
    * bounded integer domain, so the plan aggregates to (lang, n_tokens)
    * counts FIRST and runs the cumulative windows over that aggregate —
    * never a rank window over raw documents partitioned by the handful of
    * language values, which would put ~corpus/|langs| rows in each window
    * task (the low-cardinality-partition straggler ev_rfm was cured of).
    * The value at rank ceil(q·n) equals the smallest value whose
    * cumulative count reaches the rank (ties share a value, so the
    * doc_id tie-break never changes the VALUE at a rank) — the oracle's
    * per-document ranking definition is unchanged. */
  val xLenQuantiles = Q(
    "x_len_quantiles",
    wsCte +
      """, r AS (SELECT lang, CAST(len(ws) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY len(ws), doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n FROM t)
        |SELECT lang, max(n) AS n_docs,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_tokens END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN n_tokens END) AS p90,
        |  max(n_tokens) AS max_tokens
        |FROM r GROUP BY lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.documents(s, d)
      .select(col("lang"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vals
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("lang")).agg(
        max(col("n")).as("n_docs"),
        min(when(col("cum") >= ceil(lit(0.5) * col("n")), col("n_tokens")))
          .as("p50"),
        min(when(col("cum") >= ceil(lit(0.9) * col("n")), col("n_tokens")))
          .as("p90"),
        max(col("n_tokens")).as("max_tokens"))
  }

  /** Intra-document repetition quality filter (Gopher-style rules):
    * duplicate-bigram fraction + top-token share + a keep verdict. Pure
    * per-row array expressions — the filter costs ZERO shuffles at any
    * scale, unlike an explode/groupBy formulation. */
  val xRepetition = Q(
    "x_repetition",
    wsCte +
      """, m AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 2 THEN
        |    CAST(len(ws) - 1 - len(list_distinct(list_transform(
        |        range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE)
        |      / (len(ws) - 1) END AS dup_bigram_frac,
        |  CASE WHEN len(ws) > 0 THEN
        |    CAST(list_max(list_transform(list_distinct(ws),
        |        w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
        |      / len(ws) END AS top_token_frac
        |FROM t)
        |SELECT doc_id, dup_bigram_frac, top_token_frac,
        |  coalesce(dup_bigram_frac, 0) < 0.2
        |    AND coalesce(top_token_frac, 1) < 0.2 AS keep
        |FROM m""".stripMargin) { (s, d) =>
    val dup = TextFns.dupBigramFrac(col("text"))
    val top = TextFns.topTokenFrac(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"), dup.as("dup_bigram_frac"), top.as("top_token_frac"),
      (coalesce(dup, lit(0.0)) < 0.2 && coalesce(top, lit(1.0)) < 0.2)
        .as("keep"))
  }

  /** Corpus vocabulary: document frequency + collection frequency per
    * token, top-200 by (df desc, word asc) — the "build the tokenizer
    * vocab" step. One shuffle on word; the top-k is a rank pushdown, not a
    * global sort materialization. */
  val xVocab = Q(
    "x_vocab",
    wsCte +
      """, w AS (SELECT doc_id, unnest(ws) AS word FROM t)
        |SELECT word, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
        |FROM w GROUP BY word ORDER BY df DESC, word LIMIT 200""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
      .orderBy(col("df").desc, col("word")).limit(200)
  }

  /** Per-(source, lang) corpus report: doc counts, exact token totals, and
    * the high-quality share — all integer sums and IEEE-single-division
    * means, so no double-sum order dependence anywhere. */
  val xCorpusStats = Q(
    "x_corpus_stats",
    wsCte.replace("doc_id, text, lang,", "doc_id, text, lang, source,") +
      """SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(ws)) AS BIGINT) AS total_tokens,
        |  CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |  CAST(SUM(CASE WHEN len(text) >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
        |FROM t GROUP BY source, lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text")).cast("long")).as("total_tokens"),
        (sum(TextFns.tokenCount(col("text")).cast("long")).cast("double")
          / count(lit(1))).as("avg_tokens"),
        sum(when(length(col("text")) >= 200, 1).otherwise(0).cast("long"))
          .as("n_long"))
  }

  /** KMV distinct-token sketch per language — a cross-engine-replicable
    * cardinality sketch (the k-th min of portable hashes), with the exact
    * count alongside. See graft.text.Sketches. */
  val xDistinctKmv = Q(
    "x_distinct_kmv",
    wsCte +
      """, w AS (SELECT DISTINCT lang AS g, unnest(ws) AS word FROM t),
        |h AS (SELECT DISTINCT g,
        |    ('0x' || substr(md5('kmv:' || word), 1, 14))::BIGINT AS h FROM w),
        |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        |      FROM h),
        |kth AS (SELECT g, h AS kth_hash FROM r WHERE rn = 64),
        |ex AS (SELECT g, COUNT(DISTINCT word) AS n_exact FROM w GROUP BY g)
        |SELECT ex.g AS lang, ex.n_exact, kth.kth_hash,
        |  CASE WHEN kth.kth_hash IS NULL THEN CAST(ex.n_exact AS DOUBLE)
        |       ELSE 63.0 * 72057594037927936.0 / CAST(kth.kth_hash AS DOUBLE)
        |  END AS est
        |FROM ex LEFT JOIN kth ON ex.g = kth.g""".stripMargin) { (s, d) =>
    graft.text.Sketches.kmvDistinctTokens(
      Tables.documents(s, d), "text", "lang", k = 64)
  }

  /** Portable-register HyperLogLog per language — registers derived from
    * the md5-prefix hash by integer ops only, harmonic sum accumulated as
    * scaled BIGINT shifts, so the raw HLL estimate itself replicates
    * bit-for-bit on both engines (see Sketches.hllDistinctTokens; the KMV
    * sibling above is the k-mins alternative). */
  val xDistinctHll = Q(
    "x_distinct_hll",
    wsCte +
      """, w AS (SELECT DISTINCT lang AS g, unnest(ws) AS word FROM t),
        |h AS (SELECT g, ('0x' || substr(md5('hll:' || word), 1, 14))::BIGINT AS h
        |      FROM w),
        |b AS (SELECT g, h // (1::BIGINT << 49) AS bucket,
        |        h & ((1::BIGINT << 49) - 1) AS w FROM h),
        |r AS (SELECT g, bucket,
        |        MAX(CASE WHEN w = 0 THEN 50
        |            ELSE 50 - length(bin(w)) END) AS reg
        |      FROM b GROUP BY 1, 2),
        |pg AS (SELECT g, COUNT(*) AS v_filled,
        |         SUM(1::BIGINT << (50 - reg)) AS z_obs
        |       FROM r GROUP BY 1),
        |ex AS (SELECT g, COUNT(DISTINCT word) AS n_exact FROM w GROUP BY 1)
        |SELECT ex.g AS lang, ex.n_exact, pg.v_filled,
        |  (0.7213 / (1 + 1.079 / 128.0)) * 16384.0 * 1125899906842624.0
        |    / CAST(pg.z_obs + (128 - pg.v_filled) * (1::BIGINT << 50) AS DOUBLE)
        |    AS est,
        |  ((0.7213 / (1 + 1.079 / 128.0)) * 16384.0 * 1125899906842624.0
        |    / CAST(pg.z_obs + (128 - pg.v_filled) * (1::BIGINT << 50) AS DOUBLE)
        |   - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE)
        |    AS rel_err
        |FROM ex JOIN pg ON ex.g = pg.g""".stripMargin) { (s, d) =>
    graft.text.Sketches.hllDistinctTokens(
      Tables.documents(s, d), "text", "lang", p = 7)
  }

  /** KMV θ-sketch set algebra between source pairs: union/intersection
    * distinct-token estimates from the two k-min sketches alone (see
    * Sketches.kmvSetOps — k hashes of state per source at any corpus
    * size, vs x_source_overlap's exact distinct-shingle pair join). The
    * oracle replicates the whole chain: sketches, union-sketch rank,
    * membership flags, and the fixed-order float estimates. */
  val xKmvSetops = Q(
    "x_kmv_setops",
    """WITH w AS (SELECT DISTINCT source AS g, unnest(
      |    string_split_regex(trim(lower(text)), '\s+')) AS word
      |  FROM documents),
      |hs AS (SELECT DISTINCT g,
      |    ('0x' || substr(md5('kmv:' || word), 1, 14))::BIGINT AS h FROM w),
      |sk AS (SELECT g, h FROM (SELECT g, h,
      |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hs)
      |  WHERE rn <= 64),
      |gs AS (SELECT DISTINCT g FROM sk),
      |gp AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
      |side AS (
      |  SELECT gp.ga, gp.gb, s.h, 1 AS in_a, 0 AS in_b
      |  FROM gp JOIN sk s ON s.g = gp.ga
      |  UNION ALL
      |  SELECT gp.ga, gp.gb, s.h, 0, 1 FROM gp JOIN sk s ON s.g = gp.gb),
      |uni AS (SELECT ga, gb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
      |        FROM side GROUP BY 1, 2, 3),
      |top AS (SELECT * FROM (SELECT *,
      |    row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM uni)
      |  WHERE rn <= 64),
      |agg AS (SELECT ga, gb, COUNT(*) AS n_sketch,
      |    MAX(CASE WHEN rn = 64 THEN h END) AS kth,
      |    SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_both
      |  FROM top GROUP BY 1, 2)
      |SELECT ga AS src_a, gb AS src_b, n_sketch, CAST(n_both AS BIGINT) AS n_both,
      |  CASE WHEN kth IS NULL THEN CAST(n_sketch AS DOUBLE)
      |    ELSE 63.0 * 72057594037927936.0 / CAST(kth AS DOUBLE) END AS est_union,
      |  CASE WHEN kth IS NULL THEN CAST(n_both AS DOUBLE)
      |    ELSE (CAST(n_both AS DOUBLE) / 64.0)
      |      * (63.0 * 72057594037927936.0 / CAST(kth AS DOUBLE)) END AS est_inter
      |FROM agg""".stripMargin) { (s, d) =>
    graft.text.Sketches.kmvSetOps(Tables.documents(s, d), "text", "source",
      k = 64)
  }

  val xDedupExact = Q(
    "x_dedup_exact",
    """SELECT
      |  md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fingerprint,
      |  min(doc_id) AS keep_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
    Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
  }

  /** Normalized-exact dedup: strip case/punctuation/digits, collapse
    * whitespace, hash the REMAINING SEQUENCE (order-preserving — the
    * normalize-then-hash convention curation pipelines run before any
    * near-dup pass). */
  val xDedupNorm = Q(
    "x_dedup_norm",
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_key,
      |  min(doc_id) AS keep_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
    Dedup.normalizedGroups(Tables.documents(s, d), "doc_id", "text")
  }

  /** Membership of exact-dup groups as one row per member — the scale-safe
    * replacement for a concatenated id roster (a boilerplate-heavy corpus
    * can put millions of docs behind one fingerprint). */
  val xDedupExactMembers = Q(
    "x_dedup_exact_members",
    """WITH fp AS (SELECT
      |  md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fingerprint,
      |  doc_id FROM documents)
      |SELECT fingerprint, doc_id FROM fp
      |QUALIFY COUNT(*) OVER (PARTITION BY fingerprint) > 1""".stripMargin) { (s, d) =>
    Dedup.exactMembership(Tables.documents(s, d), "doc_id", "text")
  }

  /** TF-IDF top terms per document with the log-free fixed-point idf
    * ((N·10⁶) div df — engine-exact, same ordering as N/df). */
  val xTfidf = Q(
    "x_tfidf",
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, rank, term, tf, df, score_ppm FROM (
      |  SELECT doc_id, term, tf, df,
      |    tf * ((n_docs * 1000000) // df) AS score_ppm,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf * ((n_docs * 1000000) // df) DESC, term) AS rank
      |  FROM tf JOIN dft USING (term) CROSS JOIN n)
      |WHERE rank <= 3""".stripMargin) { (s, d) =>
    graft.text.Relevance.tfIdfTopTerms(Tables.documents(s, d),
      "doc_id", "text", k = 3)
  }

  /** BM25 retrieval scoring ([[graft.text.Relevance.bm25Scores]]) against
    * the corpus's top-3-df term set: Lucene non-negative idf through the
    * quantized-ln helper, k1/b saturation cleared to ONE exact integral
    * division in DECIMAL carry — the oracle replays idf, the cleared
    * fraction and the division verbatim (HUGEINT on the DuckDB side). */
  val xBm25 = Q(
    "x_bm25",
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |              (SELECT COUNT(*) FROM toks) AS len_total),
      |q AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 3),
      |qi AS (SELECT term,
      |    CAST(floor(ln(CAST(2 * st.n_docs + 2 AS DOUBLE)
      |      / CAST(2 * df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
      |  FROM q, st),
      |c AS (SELECT tf.doc_id,
      |    (CAST(idf_micro AS HUGEINT) * 44 * st.len_total * tf.tf)
      |    // (CAST(20 AS HUGEINT) * st.len_total * tf.tf
      |        + 6 * st.len_total + 18 * dl.dl * st.n_docs) AS contrib
      |  FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), st)
      |SELECT doc_id, COUNT(*) AS n_hit,
      |  CAST(SUM(contrib) AS BIGINT) AS score_micro
      |FROM c GROUP BY 1""".stripMargin) { (s, d) =>
    graft.text.Relevance.bm25Scores(Tables.documents(s, d),
      "doc_id", "text", qTerms = 3)
  }

  /** Corpus-trained bigram LM document scoring (fixed-point transition
    * probabilities — the KenLM-style quality-filter shape). */
  val xBigramLm = Q(
    "x_bigram_lm",
    """WITH w AS (SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
      |bi AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS word
      |       FROM w, UNNEST(range(1, len(ws))) AS t(i)),
      |c2 AS (SELECT prev, word, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
      |c1 AS (SELECT word AS prev, COUNT(*) AS c1
      |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM((c2 * 1000000) // c1) AS BIGINT) AS sum_p_ppm,
      |  CAST(SUM((c2 * 1000000) // c1) AS BIGINT) // COUNT(*) AS avg_p_ppm
      |FROM bi JOIN c2 USING (prev, word) JOIN c1 USING (prev)
      |GROUP BY doc_id""".stripMargin) { (s, d) =>
    graft.text.Relevance.bigramLmScore(Tables.documents(s, d), "doc_id", "text")
  }

  /** Writing-system profile (TextFns.scriptCount): per-document counts of
    * Latin/CJK/Cyrillic/digit codepoints and the dominant script with a
    * fixed tie order — the script-level complement of the stopword
    * lang-ID (catches mixed-script spam and mojibake that stopwords
    * can't). Codepoint-range classes are the one script syntax Java
    * regex and RE2 share. */
  val xScriptMix = Q(
    "x_script_mix", {
      def cnt(cls: String) = s"len(string_split_regex(text, '$cls')) - 1"
      val latin = cnt("[A-Za-z]")
      val cjk = cnt("[\\x{4e00}-\\x{9fff}]")
      val cyr = cnt("[\\x{0400}-\\x{04ff}]")
      val digit = cnt("[0-9]")
      s"""SELECT doc_id, lang,
         |  CAST($latin AS BIGINT) AS n_latin,
         |  CAST($cjk AS BIGINT) AS n_cjk,
         |  CAST($cyr AS BIGINT) AS n_cyrillic,
         |  CAST($digit AS BIGINT) AS n_digit,
         |  CASE
         |    WHEN $latin >= $cjk AND $latin >= $cyr AND $latin >= $digit
         |      THEN 'latin'
         |    WHEN $cjk >= $cyr AND $cjk >= $digit THEN 'cjk'
         |    WHEN $cyr >= $digit THEN 'cyrillic'
         |    ELSE 'digit' END AS dominant
         |FROM documents""".stripMargin
    }) { (s, d) =>
    import graft.text.TextFns._
    val t = col("text")
    val (la, cj, cy, di) = (scriptCount(t, latinClass),
      scriptCount(t, cjkClass), scriptCount(t, cyrillicClass),
      scriptCount(t, digitClass))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      la.cast("long").as("n_latin"), cj.cast("long").as("n_cjk"),
      cy.cast("long").as("n_cyrillic"), di.cast("long").as("n_digit"),
      when(la >= cj && la >= cy && la >= di, "latin")
        .when(cj >= cy && cj >= di, "cjk")
        .when(cy >= di, "cyrillic")
        .otherwise("digit").as("dominant"))
  }

  /** Log-space bigram LM (perplexity) document scoring: ln quantized at
    * the bigram-type level, integer doc aggregates; avg_lp_micro =
    * −10⁶·ln(ppl) ranks identically to perplexity without a doc-level
    * exp (see Relevance.bigramLogScore). */
  val xPerplexity = Q(
    "x_perplexity",
    """WITH w AS (SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
      |bi AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS word
      |       FROM w, UNNEST(range(1, len(ws))) AS t(i)),
      |c2 AS (SELECT prev, word, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
      |c1 AS (SELECT word AS prev, COUNT(*) AS c1
      |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
      |ty AS (SELECT prev, word,
      |    CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000)
      |      AS BIGINT) AS lp_micro
      |  FROM c2 JOIN c1 USING (prev))
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro,
      |  CAST(floor(CAST(SUM(lp_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |    AS avg_lp_micro
      |FROM bi JOIN ty USING (prev, word)
      |GROUP BY doc_id""".stripMargin) { (s, d) =>
    graft.text.Relevance.bigramLogScore(Tables.documents(s, d), "doc_id", "text")
  }

  /** Per-document token entropy (Relevance.tokenEntropy): the diversity
    * filter — keyword-stuffed/template text scores low however probable
    * its transitions are. Integer-carried ln terms, h_micro ≈ H·10⁶. */
  val xTokenEntropy = Q(
    "x_token_entropy",
    wsCte +
      """, tok AS (SELECT doc_id, unnest(ws) AS word FROM t),
        |cnts AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |nn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnts GROUP BY 1),
        |terms AS (SELECT cnts.doc_id, c, n,
        |    c * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS term_micro
        |  FROM cnts JOIN nn ON cnts.doc_id = nn.doc_id)
        |SELECT doc_id, COUNT(*) AS n_distinct, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(term_micro) AS BIGINT) AS sum_h_micro,
        |  CAST(floor(CAST(SUM(term_micro) AS DOUBLE) / MAX(n)) AS BIGINT)
        |    AS h_micro
        |FROM terms GROUP BY doc_id""".stripMargin) { (s, d) =>
    graft.text.Relevance.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
  }

  /** Count-min-sketch heavy hitters (depth 4 × width 1024, md5 hash
    * family): estimate vs exact for every token with exact count ≥ 100. */
  val xHeavyHitters = Q(
    "x_heavy_hitters",
    """WITH toks AS (SELECT
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |cells AS (SELECT i AS r,
      |    ('0x' || substr(md5('cms' || i || ':' || token), 1, 14))::BIGINT
      |      % 1024 AS b
      |  FROM toks, UNNEST(range(0, 4)) AS t(i)),
      |bk AS (SELECT r, b, COUNT(*) AS c FROM cells GROUP BY r, b),
      |ex AS (SELECT token, COUNT(*) AS exact_n FROM toks GROUP BY token
      |       HAVING COUNT(*) >= 100),
      |pr AS (SELECT token, exact_n, i AS r,
      |    ('0x' || substr(md5('cms' || i || ':' || token), 1, 14))::BIGINT
      |      % 1024 AS b
      |  FROM ex, UNNEST(range(0, 4)) AS t(i))
      |SELECT token, exact_n, min(c) AS cms_est
      |FROM pr JOIN bk USING (r, b)
      |GROUP BY token, exact_n""".stripMargin) { (s, d) =>
    graft.text.Relevance.cmsHeavyHitters(Tables.documents(s, d), "text",
      depth = 4, width = 1024, minExact = 100)
  }

  /** Document fingerprints: bag-of-words md5 + polynomial rolling hash
    * (both engine-portable; the rolling fold is replicated via
    * list_reduce with a seeded zero element). */
  val xFingerprint = Q(
    "x_fingerprint",
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS bag_fp,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS rolling_fp
      |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFns.fingerprint(col("text")).as("bag_fp"),
      TextFns.rollingHash(col("text")).as("rolling_fp"))
  }

  /** CCNet-style quality bucketing: per-language terciles of the bigram-LM
    * probability score (head = most probable text). ntile over the same
    * integer avg_p_ppm both engines compute, doc_id tiebreak → fully
    * deterministic bucket edges. */
  val xQualityBuckets = Q(
    "x_quality_buckets",
    """WITH w AS (SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
      |bi AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS word
      |       FROM w, UNNEST(range(1, len(ws))) AS t(i)),
      |c2 AS (SELECT prev, word, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
      |c1 AS (SELECT word AS prev, COUNT(*) AS c1
      |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
      |lm AS (SELECT doc_id,
      |    CAST(SUM((c2 * 1000000) // c1) AS BIGINT) // COUNT(*) AS avg_p_ppm
      |  FROM bi JOIN c2 USING (prev, word) JOIN c1 USING (prev)
      |  GROUP BY doc_id)
      |SELECT doc_id, lang, avg_p_ppm,
      |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY avg_p_ppm DESC, doc_id)
      |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM lm JOIN documents USING (doc_id)""".stripMargin) { (s, d) =>
    // DE-STRAGGLED round 10 (the tightened small-domain window rule
    // caught this): `ntile(3) OVER (PARTITION BY lang ORDER BY …)` was a
    // RAW-ROW rank window — ~corpus/|langs| rows per task. The exact
    // per-lang rank now comes from Scale.binnedGroupRank (avg_p_ppm is
    // ppm-bounded [0, 10⁶]: div 256 → ≤ 4096 bins by construction), and
    // ntile's bucket is ARITHMETIC on (rank, per-lang count): with
    // n = q·3 + r rows, the first r tiles take q+1 rows — the standard
    // SQL ntile split, bit-equal to the oracle's window form.
    val docs = Tables.documents(s, d)
    val lm = graft.text.Relevance.bigramLmScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("avg_p_ppm"))
    // (doc_id, ppm, lang) is reused by the rank decomposition (twice) and
    // the per-lang counts — checkpoint it once or the bigram-LM chain
    // re-embeds three times
    val joined = lm.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint(true)
    val ranked = graft.ops.Scale.binnedGroupRank(
      joined, group = Seq(col("lang")), bin = expr("avg_p_ppm div 256"),
      ordInBin = Seq(col("avg_p_ppm").desc, col("doc_id").asc),
      binAsc = false, rankCol = "__rk")
    val counts = joined.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(counts), Seq("lang"))
      .withColumn("__t",
        graft.ops.Scale.ntileFromRank(col("__rk"), col("__n"), 3))
      .select(col("doc_id"), col("lang"), col("avg_p_ppm"),
        when(col("__t") === 1, "head").when(col("__t") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** DSIR-style importance weights: target LM = src0 documents, general
    * LM = the rest; per-doc summed log-likelihood ratio in integer
    * microunits (the importance-resampling key). */
  val xImportanceWeight = Q(
    "x_importance_weight",
    """WITH toks AS (SELECT doc_id, source = 'src0' AS is_target,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |counts AS (SELECT token,
      |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t,
      |    SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS c_g
      |  FROM toks GROUP BY token),
      |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t_tot,
      |    CAST(SUM(c_g) AS BIGINT) AS g_tot, COUNT(*) AS v_sz FROM counts),
      |vocab AS (SELECT token,
      |    CAST(floor(ln(((c_t + 1) / (t_tot + v_sz))
      |      * ((g_tot + v_sz) / (c_g + 1))) * 1000000) AS BIGINT) AS llr_micro
      |  FROM counts, tot)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(llr_micro) AS BIGINT) AS score_micro
      |FROM toks JOIN vocab USING (token) GROUP BY doc_id""".stripMargin) {
    (s, d) =>
      graft.text.Relevance.importanceWeights(Tables.documents(s, d),
        "doc_id", "text", col("source") === "src0")
  }

  /** Histogram-sketch quantiles on n_chars vs the exact rank answer —
    * the mergeable-sketch quantile estimate with its measured overshoot
    * (err < binWidth by construction; asserted in TextQualitySpec). */
  val xHistQuantiles = Q(
    "x_hist_quantiles",
    """WITH v AS (SELECT n_chars AS val FROM documents),
      |bc AS (SELECT CAST(floor(val/50.0) AS BIGINT) AS bin, COUNT(*) AS cnt
      |       FROM v GROUP BY 1),
      |b AS (SELECT bin, cnt,
      |    SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER () AS n FROM bc),
      |bq AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q, * FROM b),
      |sk AS (SELECT q, MIN(bin) AS minbin,
      |    MIN(CAST(ceil(q*n) AS BIGINT)) AS target_rank
      |  FROM bq WHERE cum >= ceil(q*n) GROUP BY q),
      |vc AS (SELECT val, COUNT(*) AS cnt FROM v GROUP BY 1),
      |vv AS (SELECT val,
      |    SUM(cnt) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER () AS n FROM vc),
      |vq AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q, * FROM vv),
      |ex AS (SELECT q, MIN(val) AS exact FROM vq
      |       WHERE cum >= ceil(q*n) GROUP BY q)
      |SELECT sk.q, sk.target_rank, (minbin+1)*50 - 1 AS est_hi, ex.exact,
      |  (minbin+1)*50 - 1 - ex.exact AS err
      |FROM sk JOIN ex ON sk.q = ex.q""".stripMargin) { (s, d) =>
    graft.text.Sketches.histogramQuantiles(Tables.documents(s, d), "n_chars")
  }

  /** PMI-style collocations: top-50 adjacent word pairs by fixed-point
    * lift over unigram independence (c_xy ≥ 5). */
  val xCollocations = Q(
    "x_collocations",
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |           FROM documents),
      |b0 AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM t),
      |bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM b0),
      |p AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2
      |      HAVING COUNT(*) >= 5),
      |u AS (SELECT unnest(ws) AS w FROM t),
      |cw AS (SELECT w, COUNT(*) AS c FROM u GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_tokens FROM u)
      |SELECT p.w1, p.w2, c_xy, a.c AS c_x, b.c AS c_y,
      |  (c_xy * 1000000 * n_tokens) // (a.c * b.c) AS lift_ppm
      |FROM p JOIN cw a ON p.w1 = a.w JOIN cw b ON p.w2 = b.w, n
      |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin) { (s, d) =>
    graft.text.Relevance.pmiCollocations(Tables.documents(s, d),
      "doc_id", "text")
  }

  /** Distributed BPE merge learning, two unrolled rounds: top-5 symbol
    * pairs before and after adopting the winning merge (see
    * graft.text.Bpe for the vocabulary-sized scale argument and the
    * leftmost-non-overlapping merge-application contract both engines
    * share). */
  /** Programmatic BPE CTE chain through `rounds` merge rounds (the same
    * generator discipline as minhashCteChain): `gocc` = regex-safe word
    * occurrences per doc, `w`/`m0` the distinct-word table with char
    * sequences, then per round i: `p_i` pair counts over `m_{i-1}`,
    * `win_i` the adopted merge, `m_i` the merged table (LEFT JOIN so an
    * empty merge is identity — matches Bpe.applyMerge). The merges query
    * and the tokenize query build on the SAME generator so the learned
    * vocabulary can never drift between them. */
  private def bpeCtes(rounds: Int): String = {
    val head =
      """WITH t AS (SELECT doc_id,
        |           string_split_regex(trim(lower(text)), '\s+') AS ws
        |           FROM documents),
        |occ AS (SELECT doc_id, unnest(ws) AS word FROM t),
        |gocc AS (SELECT doc_id, word FROM occ
        |         WHERE regexp_matches(word, '^[a-z0-9]+$')),
        |w AS (SELECT word, COUNT(*) AS n FROM gocc GROUP BY 1),
        |m0 AS (SELECT word, n,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq
        |  FROM w),
        |""".stripMargin
    val perRound = (1 to rounds).map { i =>
      s"""p$i AS (SELECT arr[i] AS l, arr[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
         |       FROM (SELECT n, string_split(trim(seq), ' ') AS arr FROM m${i - 1}) x,
         |            UNNEST(range(1, len(arr))) AS t$i(i)
         |       GROUP BY 1, 2),
         |win$i AS (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |m$i AS (SELECT word, n,
         |      CASE WHEN win$i.l IS NULL THEN seq ELSE regexp_replace(seq,
         |        ' ' || win$i.l || ' ' || win$i.r || ' ',
         |        ' ' || win$i.l || win$i.r || ' ', 'g') END AS seq
         |      FROM m${i - 1} LEFT JOIN win$i ON TRUE),
         |""".stripMargin
    }
    head + perRound.mkString
  }

  private val BpeRounds = 4

  val xBpeMerges = Q(
    "x_bpe_merges",
    bpeCtes(BpeRounds) +
      (1 to BpeRounds).map { i =>
        s"""r$i AS (SELECT $i AS merge_round,
           |    row_number() OVER (ORDER BY cnt DESC, l, r) AS pair_rank, l, r, cnt
           |  FROM p$i)""".stripMargin
      }.mkString(",\n") +
      s"""
         |SELECT CAST(merge_round AS BIGINT) AS merge_round,
         |  CAST(pair_rank AS BIGINT) AS pair_rank, l, r, cnt
         |FROM (${(1 to BpeRounds)
        .map(i => s"SELECT * FROM r$i WHERE pair_rank <= 5")
        .mkString(" UNION ALL ")})""".stripMargin) { (s, d) =>
    graft.text.Bpe.topMerges(Tables.documents(s, d), "doc_id", "text",
      perRound = 5, rounds = BpeRounds)
  }

  /** End-to-end BPE tokenization: apply all `BpeRounds` learned merges to
    * the distinct-word table, then count per-doc tokens through ONE
    * occurrence⋈dictionary join (Bpe.tokenCounts — the dictionary side is
    * vocabulary-bounded). Words outside `[a-z0-9]+` are outside the
    * learned vocabulary on both engines. */
  val xBpeTokenize = Q(
    "x_bpe_tokenize",
    bpeCtes(BpeRounds) +
      s"""dict AS (SELECT word,
         |    len(string_split(trim(seq), ' ')) AS n_sym FROM m$BpeRounds),
         |per AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
         |    COUNT(*) AS n_words
         |  FROM gocc JOIN dict USING (word) GROUP BY 1)
         |SELECT d.doc_id, coalesce(per.n_bpe_tokens, 0) AS n_bpe_tokens,
         |  coalesce(per.n_words, 0) AS n_words
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""
        .stripMargin) { (s, d) =>
    graft.text.Bpe.tokenCounts(Tables.documents(s, d), "doc_id", "text",
      rounds = BpeRounds)
  }

  /** HTML boilerplate strip (the crawl-ingest text extraction that runs
    * BEFORE every quality/dedup operator here): each document is embedded
    * into a deterministic HTML page (head with script+style blocks whose
    * content must NOT leak, entity-encoded body, an entity-bearing
    * trailer), then `TextFns.htmlStrip` recovers the text. Emits the
    * cleaned text plus the text-to-markup ratio (ppm) — the classic
    * boilerplate-density signal. Pure per-row expression chain, zero
    * shuffles; the oracle replicates synth + strip with the same RE2/Java
    * shared-syntax regexes. */
  val xHtmlStrip = Q(
    "x_html_strip",
    """WITH h AS (SELECT doc_id,
      |    '<html><head><script type="text/javascript">var x = 1 < 2 && y;</script>'
      |    || '<style>p { color: red }</style></head><body><h1 class="hd">Doc '
      |    || CAST(doc_id AS VARCHAR) || '</h1><p id="p1">'
      |    || replace(replace(replace(replace(text,
      |         '&', '&amp;'), '<', '&lt;'), '"', '&quot;'), '''', '&#39;')
      |    || '</p><br/><div>&nbsp;&amp;&lt;tail&gt;</div></body></html>' AS html
      |  FROM documents),
      |s1 AS (SELECT doc_id, html, regexp_replace(html,
      |    '(?is)<(script|style)[^>]*>.*?</(script|style)\s*>', ' ', 'g') AS a
      |  FROM h),
      |s2 AS (SELECT doc_id, html,
      |    regexp_replace(a, '(?s)<[^>]*>', ' ', 'g') AS b FROM s1),
      |s3 AS (SELECT doc_id, html,
      |    trim(regexp_replace(replace(replace(replace(replace(replace(replace(b,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g')) AS clean
      |  FROM s2)
      |SELECT doc_id, clean AS clean_text,
      |  (len(clean) * 1000000) // len(html) AS text_ratio_ppm
      |FROM s3""".stripMargin) { (s, d) =>
    val html = concat(
      lit("<html><head><script type=\"text/javascript\">var x = 1 < 2 && y;</script>"),
      lit("<style>p { color: red }</style></head><body><h1 class=\"hd\">Doc "),
      col("doc_id").cast("string"), lit("</h1><p id=\"p1\">"),
      TextFns.htmlEncode(col("text")),
      lit("</p><br/><div>&nbsp;&amp;&lt;tail&gt;</div></body></html>"))
    Tables.documents(s, d)
      .select(col("doc_id"), html.as("html"))
      .withColumn("clean_text", TextFns.htmlStrip(col("html")))
      .select(col("doc_id"), col("clean_text"),
        expr("(length(clean_text) * 1000000) div length(html)")
          .as("text_ratio_ppm"))
  }

  /** fastText-shape hashed linear classifier inference
    * (TextFns.classifierScore): token + adjacent-bigram features hashed
    * to signed integer weights, document score = the weight sum, keep =
    * score > 0. Entirely per-row — the canonical embarrassingly parallel
    * corpus scoring pass, zero shuffles at any scale (the md5 per feature
    * dominates; the HOF fold's interpreted step is noise beside it). The
    * staged projections keep the feature array and score computed ONCE —
    * CollapseProject leaves expensive aliases staged, so neither is
    * re-evaluated per consumer. */
  val xQualityClassifier = Q(
    "x_quality_classifier",
    wsCte +
      """, f AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END) AS feats FROM t),
        |sc AS (SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
        |    CAST(list_sum(list_transform(feats, w ->
        |      ('0x' || substr(md5('qw:' || w), 1, 14))::BIGINT % 1001 - 500))
        |      AS BIGINT) AS score
        |  FROM f)
        |SELECT doc_id, n_feats, score,
        |  CAST(score AS DOUBLE) / n_feats AS mean_w, score > 0 AS keep
        |FROM sc""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFns.classifierFeatures(col("text")).as("__f"))
      .select(col("doc_id"), size(col("__f")).cast("long").as("n_feats"),
        aggregate(col("__f"), lit(0L),
          (acc, f) => acc + TextFns.classifierWeight(f)).as("score"))
      .select(col("doc_id"), col("n_feats"), col("score"),
        (col("score").cast("double") / col("n_feats")).as("mean_w"),
        (col("score") > 0).as("keep"))
  }

  /** Classifier-calibration report (reliability diagram + per-bin gap) —
    * the model-quality monitoring a filtering pipeline runs before
    * trusting a quality classifier's scores as probabilities: the hashed
    * linear classifier's per-doc mean weight is mapped to an exact-ppm
    * confidence, binned into deciles, and each bin reports its document
    * count, mean predicted ppm, empirical positive rate (proxy label:
    * the rule-based qualityScore ≥ 0.35, the same threshold
    * x_curate_e2e filters on) and the |predicted − empirical| gap — the
    * per-bin terms of expected calibration error. All integer ppm
    * arithmetic (the only doubles are the proven qualityScore fold);
    * one aggregation over ≤10 bins — zero joins wider than doc-keyed,
    * no windows. */
  val xCalibrationBins = Q(
    "x_calibration_bins",
    wsCte +
      """, f AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END) AS feats FROM t),
        |sc AS (SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
        |    CAST(list_sum(list_transform(feats, w ->
        |      ('0x' || substr(md5('qw:' || w), 1, 14))::BIGINT % 1001 - 500))
        |      AS BIGINT) AS score
        |  FROM f),
        |q AS (SELECT doc_id,
        |    least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
        |    + CAST(len(list_filter(ws,
        |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |      / len(ws) * 0.4
        |    + (1.0 - CAST(len(regexp_replace(text,
        |        '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE)
        |      / len(text)) * 0.2 AS quality
        |  FROM t),
        |b AS (SELECT sc.doc_id,
        |    least((score + 500 * n_feats) * 1000
        |      // greatest(n_feats, 1) // 100000, 9) AS bin,
        |    (score + 500 * n_feats) * 1000 // greatest(n_feats, 1) AS p_ppm,
        |    q.quality >= 0.35 AS label
        |  FROM sc JOIN q USING (doc_id))
        |SELECT bin, COUNT(*) AS n_docs,
        |  CAST(SUM(p_ppm) AS BIGINT) // COUNT(*) AS mean_p_ppm,
        |  COUNT(*) FILTER (WHERE label) AS n_pos,
        |  COUNT(*) FILTER (WHERE label) * 1000000 // COUNT(*) AS pos_rate_ppm,
        |  abs(CAST(SUM(p_ppm) AS BIGINT) // COUNT(*)
        |    - COUNT(*) FILTER (WHERE label) * 1000000 // COUNT(*)) AS gap_ppm
        |FROM b GROUP BY 1""".stripMargin) { (s, d) =>
    val scored = scoredPersisted(s, d)
      .withColumn("p_ppm",
        expr("(score + 500 * n_feats) * 1000 div greatest(n_feats, 1)"))
      .withColumn("bin", least(expr("p_ppm div 100000"), lit(9L)))
    scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum(col("p_ppm")).as("__sp"),
        count(when(col("label"), lit(1))).as("n_pos"))
      .select(col("bin"), col("n_docs"),
        expr("__sp div n_docs").as("mean_p_ppm"),
        col("n_pos"),
        expr("n_pos * 1000000 div n_docs").as("pos_rate_ppm"),
        abs(expr("__sp div n_docs") - expr("n_pos * 1000000 div n_docs"))
          .as("gap_ppm"))
  }

  /** Exact ROC-AUC of the hashed quality classifier against the
    * rule-based proxy label — the DISCRIMINATION half of the classifier
    * eval (x_calibration_bins is the calibration half). Mann-Whitney
    * identity with exact tie handling, all integer: per distinct score
    * value v, U2 += nPos(v)·(2·negBelow(v) + nNeg(v)) — a tied pair
    * counts 1 (= 0.5 doubled) — and AUC_ppm = U2·10⁶ div (2·nPos·nNeg).
    * The cumulative window runs over the DISTINCT-SCORE aggregate
    * (bounded integer domain, the x_len_quantiles discipline), never the
    * corpus. */
  val xAuc = Q(
    "x_auc",
    wsCte +
      """, f AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END) AS feats FROM t),
        |sc AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(feats, w ->
        |      ('0x' || substr(md5('qw:' || w), 1, 14))::BIGINT % 1001 - 500))
        |      AS BIGINT) AS score
        |  FROM f),
        |q AS (SELECT doc_id,
        |    least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
        |    + CAST(len(list_filter(ws,
        |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |      / len(ws) * 0.4
        |    + (1.0 - CAST(len(regexp_replace(text,
        |        '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE)
        |      / len(text)) * 0.2 >= 0.35 AS label
        |  FROM t),
        |vals AS (SELECT score,
        |    COUNT(*) FILTER (WHERE label) AS np,
        |    COUNT(*) FILTER (WHERE NOT label) AS nn
        |  FROM sc JOIN q USING (doc_id) GROUP BY 1),
        |cum AS (SELECT score, np, nn,
        |    CAST(coalesce(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS neg_below
        |  FROM vals)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * (2 * neg_below + nn)) AS BIGINT) AS u2,
        |  CAST(SUM(np * (2 * neg_below + nn)) AS BIGINT) * 1000000
        |    // (2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT))
        |    AS auc_ppm
        |FROM cum""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val scored = scoredPersisted(s, d)
    val vals = scored.groupBy(col("score"))
      .agg(count(when(col("label"), lit(1))).as("np"),
        count(when(!col("label"), lit(1))).as("nn"))
    val wCum = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    vals
      .withColumn("neg_below",
        coalesce(org.apache.spark.sql.functions.sum(col("nn")).over(wCum),
          lit(0L)))
      .agg(
        org.apache.spark.sql.functions.sum(col("np")).as("n_pos"),
        org.apache.spark.sql.functions.sum(col("nn")).as("n_neg"),
        org.apache.spark.sql.functions
          .sum(col("np") * (lit(2) * col("neg_below") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("u2 * 1000000 div (2 * n_pos * n_neg)").as("auc_ppm"))
  }

  /** Per-group (language) ROC-AUC — the stratified sibling of x_auc: the
    * same Mann-Whitney distinct-score identity, keyed by the group, so a
    * per-domain eval (which languages does the classifier discriminate
    * on?) costs ONE extra join of the persisted scored table to the
    * documents' lang column. The cumulative window partitions by lang
    * over the (lang, score) AGGREGATE — a small-domain partition ABOVE
    * an aggregation, the sanctioned shape. Groups with no positives or
    * no negatives emit NULL auc_ppm (undefined discrimination), same on
    * both engines via the 0-denominator guard. */
  val xAucByLang = Q(
    "x_auc_by_lang",
    wsCte +
      """, f AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END) AS feats FROM t),
        |sc AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(feats, w ->
        |      ('0x' || substr(md5('qw:' || w), 1, 14))::BIGINT % 1001 - 500))
        |      AS BIGINT) AS score
        |  FROM f),
        |q AS (SELECT doc_id,
        |    least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
        |    + CAST(len(list_filter(ws,
        |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |      / len(ws) * 0.4
        |    + (1.0 - CAST(len(regexp_replace(text,
        |        '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE)
        |      / len(text)) * 0.2 >= 0.35 AS label
        |  FROM t),
        |it AS (SELECT t.lang, sc.score, q.label
        |  FROM sc JOIN q USING (doc_id) JOIN t USING (doc_id)),
        |vals AS (SELECT lang, score,
        |    COUNT(*) FILTER (WHERE label) AS np,
        |    COUNT(*) FILTER (WHERE NOT label) AS nn
        |  FROM it GROUP BY 1, 2),
        |cum AS (SELECT lang, np, nn,
        |    CAST(coalesce(SUM(nn) OVER (PARTITION BY lang ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS neg_below
        |  FROM vals)
        |SELECT lang, CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    CAST(SUM(np * (2 * neg_below + nn)) AS BIGINT) * 1000000
        |      // (2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT))
        |  END AS auc_ppm
        |FROM cum GROUP BY 1""".stripMargin) { (s, d) =>
    // DE-STRAGGLED round 10: the per-lang cumulative used to window the
    // (lang, score) DISTINCT-SCORE aggregate partitioned by lang alone —
    // distinct classifier scores grow with the corpus (the x_mad hole).
    // binnedGroupRunningSum decomposes it: bin offsets over the bounded
    // (lang × score-bin) aggregate, in-bin cumulatives on (lang, bin);
    // neg_below = inclusive running nn minus the row's own nn (rows are
    // distinct (lang, score), so exclusive = inclusive − self). Scores
    // are value-domain-bounded (per-token hash ∈ [−500, 500] × the
    // corpus's document-length cap), so score div 1024 is a bounded bin.
    val it = scoredPersisted(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
    val vals = it.groupBy(col("lang"), col("score"))
      .agg(count(when(col("label"), lit(1))).as("np"),
        count(when(!col("label"), lit(1))).as("nn"))
    graft.ops.Scale.binnedGroupRunningSum(
        vals, group = Seq(col("lang")), bin = expr("score div 1024"),
        ordInBin = Seq(col("score").asc), value = col("nn"),
        binAsc = true, outCol = "__cum_incl")
      .withColumn("neg_below", col("__cum_incl") - col("nn"))
      .groupBy(col("lang"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2) * col("neg_below") + col("nn"))).as("__u2"))
      .select(col("lang"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("__u2 * 1000000 div (2 * n_pos * n_neg)")).as("auc_ppm"))
  }

  /** Shared CTE chain for the ranking-eval pair (x_avg_precision /
    * x_ndcg): every POSITIVE's global position `k` and its position among
    * positives `cumpos`, under the total order (score desc, doc_id asc),
    * decomposed so no corpus-sized single-partition window exists (the
    * binnedGlobalRank discipline): k = items-above-my-score (prefix sum
    * over the DISTINCT-SCORE aggregate, the x_auc shape) + row_number
    * within the tie block (window partitioned by score, a
    * corpus-cardinality key); cumpos decomposes identically over the
    * positives. */
  private val rankedPosCtes =
    """, f AS (SELECT doc_id, list_concat(ws,
      |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
      |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END) AS feats FROM t),
      |sc AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(feats, w ->
      |      ('0x' || substr(md5('qw:' || w), 1, 14))::BIGINT % 1001 - 500))
      |      AS BIGINT) AS score
      |  FROM f),
      |q AS (SELECT doc_id,
      |    least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
      |    + CAST(len(list_filter(ws,
      |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |      / len(ws) * 0.4
      |    + (1.0 - CAST(len(regexp_replace(text,
      |        '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE)
      |      / len(text)) * 0.2 >= 0.35 AS label
      |  FROM t),
      |it AS (SELECT sc.doc_id, sc.score, q.label
      |  FROM sc JOIN q USING (doc_id)),
      |vals AS (SELECT score, COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE label) AS np FROM it GROUP BY 1),
      |offs AS (SELECT score,
      |    CAST(coalesce(SUM(n) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS above,
      |    CAST(coalesce(SUM(np) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS pos_above
      |  FROM vals),
      |rt AS (SELECT doc_id, score,
      |    row_number() OVER (PARTITION BY score ORDER BY doc_id) AS rn_all
      |  FROM it),
      |rp AS (SELECT doc_id, score,
      |    row_number() OVER (PARTITION BY score ORDER BY doc_id) AS rn_pos
      |  FROM it WHERE label),
      |pk AS (SELECT o.above + rt.rn_all AS k,
      |    o.pos_above + rp.rn_pos AS cumpos
      |  FROM rp JOIN rt ON rp.doc_id = rt.doc_id
      |  JOIN offs o ON o.score = rp.score)
      |""".stripMargin

  /** Persist-and-derive for the classifier-scored frame — the five
    * score-consuming evals (x_auc / x_calibration_bins / x_isotonic_fit /
    * x_avg_precision / x_ndcg) share one (doc_id, score, n_feats, label)
    * table computed once per (session, corpus): the expensive part of
    * each is the token+bigram feature fold over the text, identical in
    * all five. Every consumer's DuckDB oracle recomputes the fold from
    * scratch, so each green row re-proves table-derived ≡ recomputed
    * (the nbMatrixPersisted discipline). */
  private def scoredPersisted(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Artifacts.parquet(s, d, "graft-scored")(
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFns.classifierFeatures(col("text")).as("__f"),
          (TextFns.qualityScore(col("text")) >= 0.35).as("label"))
        .select(col("doc_id"), col("label"),
          size(col("__f")).cast("long").as("n_feats"),
          aggregate(col("__f"), lit(0L),
            (acc, f) => acc + TextFns.classifierWeight(f)).as("score")))

  /** Spark twin of [[rankedPosCtes]]: one row per positive document with
    * its global position `k` and positive-rank `cumpos`. */
  private def rankedPositives(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val it = scoredPersisted(s, d).select(col("doc_id"), col("score"),
      col("label"))
    val vals = it.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), count(when(col("label"), lit(1))).as("np"))
    val wCum = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = vals.select(col("score").as("__os"),
      coalesce(sum(col("n")).over(wCum), lit(0L)).as("above"),
      coalesce(sum(col("np")).over(wCum), lit(0L)).as("pos_above"))
    val wTie = Window.partitionBy(col("score")).orderBy(col("doc_id"))
    val rtAll = it.withColumn("rn_all", row_number().over(wTie))
      .select(col("doc_id"), col("rn_all"))
    val rp = it.filter(col("label"))
      .withColumn("rn_pos", row_number().over(wTie))
    rp.join(rtAll, Seq("doc_id"))
      .join(offs, col("score") === col("__os"))
      .select((col("above") + col("rn_all")).as("k"),
        (col("pos_above") + col("rn_pos")).as("cumpos"))
  }

  /** Exact average precision of the hashed quality classifier against the
    * rule-based proxy label — the ranking-eval third of the classifier
    * suite (x_auc is discrimination, x_calibration_bins calibration): AP =
    * mean over positives of precision@rank = cumpos·10⁶ div k, under the
    * (score desc, doc_id asc) total order via the decomposed global rank
    * ([[rankedPosCtes]] — no corpus-sized single-partition window at any
    * sf). Each precision term is ppm-floored (engine-exact); the mean is
    * one more integer division. */
  /** Inter-annotator agreement (Cohen's kappa) between the two raters the
    * engine already carries: rater A = the rule-based quality label,
    * rater B = the hashed linear classifier's sign — the labeling-QA
    * measure a training-data pipeline runs before trusting either rater.
    * All-integer emission: n, raw agreement, ppm-floored observed
    * agreement, and kappa as an exact (numerator, denominator) BIGINT
    * pair — kappa = (n·agree − Σ marginal products) / (n² − Σ marginal
    * products); the pair form avoids a signed integer division whose
    * floor/trunc semantics differ across engines. Reads the persisted
    * scored frame; the oracle recomputes both raters from raw text. */
  val xAnnotatorKappa = Q(
    "x_annotator_kappa",
    wsCte +
      """, f AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END) AS feats FROM t),
        |sc AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(feats, w ->
        |      ('0x' || substr(md5('qw:' || w), 1, 14))::BIGINT % 1001 - 500))
        |      AS BIGINT) AS score
        |  FROM f),
        |q AS (SELECT doc_id,
        |    least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
        |    + CAST(len(list_filter(ws,
        |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |      / len(ws) * 0.4
        |    + (1.0 - CAST(len(regexp_replace(text,
        |        '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE)
        |      / len(text)) * 0.2 >= 0.35 AS label
        |  FROM t),
        |it AS (SELECT sc.doc_id, sc.score, q.label
        |  FROM sc JOIN q USING (doc_id)),
        |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) FILTER (WHERE label AND score > 0) AS BIGINT) AS n11,
        |    CAST(COUNT(*) FILTER (WHERE NOT label AND score <= 0) AS BIGINT) AS n00,
        |    CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS a1,
        |    CAST(COUNT(*) FILTER (WHERE score > 0) AS BIGINT) AS b1
        |  FROM it)
        |SELECT n, n11 + n00 AS agree,
        |  (n11 + n00) * 1000000 // n AS po_ppm,
        |  n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)) AS kappa_num,
        |  n * n - (a1 * b1 + (n - a1) * (n - b1)) AS kappa_den
        |FROM cnt""".stripMargin) { (s, d) =>
    scoredPersisted(s, d).agg(
        count(lit(1)).as("n"),
        count(when(col("label") && col("score") > 0, lit(1))).as("n11"),
        count(when(!col("label") && col("score") <= 0, lit(1))).as("n00"),
        count(when(col("label"), lit(1))).as("a1"),
        count(when(col("score") > 0, lit(1))).as("b1"))
      .select(col("n"), (col("n11") + col("n00")).as("agree"),
        expr("(n11 + n00) * 1000000 div n").as("po_ppm"),
        (col("n") * (col("n11") + col("n00")) -
          (col("a1") * col("b1") +
            (col("n") - col("a1")) * (col("n") - col("b1")))).as("kappa_num"),
        (col("n") * col("n") -
          (col("a1") * col("b1") +
            (col("n") - col("a1")) * (col("n") - col("b1")))).as("kappa_den"))
  }

  val xAvgPrecision = Q(
    "x_avg_precision",
    wsCte + rankedPosCtes +
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
        |  CAST(SUM(cumpos * 1000000 // k) AS BIGINT) AS sum_p_ppm,
        |  CAST(SUM(cumpos * 1000000 // k) AS BIGINT) // COUNT(*) AS ap_ppm
        |FROM pk""".stripMargin) { (s, d) =>
    rankedPositives(s, d)
      .select(expr("cumpos * 1000000 div k").as("p_ppm"))
      .agg(count(lit(1)).as("n_pos"), sum(col("p_ppm")).as("sum_p_ppm"))
      .select(col("n_pos"), col("sum_p_ppm"),
        expr("sum_p_ppm div n_pos").as("ap_ppm"))
  }

  /** Quantized nDCG (binary relevance) — the graded-ranking sibling of
    * x_avg_precision on the same decomposed global rank: DCG =
    * Σ_positives ⌊10⁶/ln(k+1)⌋ ([[graft.core.QuantLn.microOverLn]], the
    * Adamic-Adar reciprocal-log idiom — integer arguments ≥ 2, the
    * audited domain), IDCG the same sum at the ideal positions — which
    * for the positives are exactly their positive-ranks `cumpos`, so the
    * ideal ranking costs NO second sort: both sums read the one
    * positives frame. The ln-vs-log2 base cancels in the ratio up to the
    * documented micro-flooring; ndcg_ppm = dcg·10⁶ div idcg. */
  val xNdcg = Q(
    "x_ndcg",
    wsCte + rankedPosCtes +
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
        |  CAST(SUM(CAST(floor(1000000.0 / ln(k + 1)) AS BIGINT))
        |    AS BIGINT) AS dcg_micro,
        |  CAST(SUM(CAST(floor(1000000.0 / ln(cumpos + 1)) AS BIGINT))
        |    AS BIGINT) AS idcg_micro,
        |  CAST(SUM(CAST(floor(1000000.0 / ln(k + 1)) AS BIGINT))
        |    AS BIGINT) * 1000000
        |    // CAST(SUM(CAST(floor(1000000.0 / ln(cumpos + 1)) AS BIGINT))
        |      AS BIGINT) AS ndcg_ppm
        |FROM pk""".stripMargin) { (s, d) =>
    rankedPositives(s, d)
      .agg(count(lit(1)).as("n_pos"),
        sum(graft.core.QuantLn.microOverLn(col("k") + 1)).as("dcg_micro"),
        sum(graft.core.QuantLn.microOverLn(col("cumpos") + 1))
          .as("idcg_micro"))
      .select(col("n_pos"), col("dcg_micro"), col("idcg_micro"),
        expr("dcg_micro * 1000000 div idcg_micro").as("ndcg_ppm"))
  }

  /** Isotonic (PAV) recalibration of the classifier's binned scores — the
    * FIX for what x_calibration_bins only measures: the monotone
    * non-decreasing fit to the per-bin empirical positive rate, via the
    * minimax identity iso(b) = max_{i≤b} min_{j≥b} rate(i..j) (equal to
    * pool-adjacent-violators on the bin sequence). Rates are ppm-floored
    * BEFORE the minimax — both engines select over identical integers,
    * and the max-of-min structure keeps the floored fit monotone too
    * (each argument is monotone in b), asserted in the spec.
    *
    * Scale: everything after the one corpus aggregation lives on the
    * ≤10-row bin table — the prefix sums, the O(bins²) interval frame and
    * the two minimax groupings are broadcast-sized plan constants. This
    * is the standard shape for isotonic at 100 TB: bin first (the
    * calibration curve is what's wanted anyway), then PAV on bins. */
  val xIsotonicFit = Q(
    "x_isotonic_fit",
    wsCte +
      """, f AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END) AS feats FROM t),
        |sc AS (SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
        |    CAST(list_sum(list_transform(feats, w ->
        |      ('0x' || substr(md5('qw:' || w), 1, 14))::BIGINT % 1001 - 500))
        |      AS BIGINT) AS score
        |  FROM f),
        |q AS (SELECT doc_id,
        |    least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
        |    + CAST(len(list_filter(ws,
        |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |      / len(ws) * 0.4
        |    + (1.0 - CAST(len(regexp_replace(text,
        |        '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE)
        |      / len(text)) * 0.2 >= 0.35 AS label
        |  FROM t),
        |b AS (SELECT sc.doc_id,
        |    least((score + 500 * n_feats) * 1000
        |      // greatest(n_feats, 1) // 100000, 9) AS bin,
        |    q.label FROM sc JOIN q USING (doc_id)),
        |bins AS (SELECT bin, COUNT(*) AS n,
        |    COUNT(*) FILTER (WHERE label) AS pos FROM b GROUP BY 1),
        |cum AS (SELECT bin, n, pos,
        |    CAST(SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cn,
        |    CAST(SUM(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cp FROM bins),
        |iv AS (SELECT a.bin AS i, bb.bin AS j,
        |    (bb.cp - (a.cp - a.pos)) * 1000000 // (bb.cn - (a.cn - a.n))
        |      AS rate_ppm
        |  FROM cum a JOIN cum bb ON a.bin <= bb.bin),
        |m AS (SELECT iv.i, bl.bin AS bb, min(iv.rate_ppm) AS mn
        |  FROM iv JOIN bins bl ON iv.i <= bl.bin AND iv.j >= bl.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT bb AS bin, max(mn) AS iso_ppm FROM m GROUP BY 1)
        |SELECT bins.bin, bins.n AS n_docs,
        |  bins.pos * 1000000 // bins.n AS pos_rate_ppm, iso.iso_ppm
        |FROM bins JOIN iso USING (bin)""".stripMargin) { (s, d) =>
    val scored = scoredPersisted(s, d)
      .withColumn("bin", least(
        expr("(score + 500 * n_feats) * 1000 div greatest(n_feats, 1) " +
          "div 100000"), lit(9L)))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), count(when(col("label"), lit(1))).as("pos"))
    graft.ops.DataQuality.isotonicBinsPpm(bins)
      .select(col("bin"), col("n").as("n_docs"),
        expr("pos * 1000000 div n").as("pos_rate_ppm"), col("iso_ppm"))
  }

  /** Dataset card — the one-row corpus summary a training-data release
    * ships: document/token/char volumes, language and source breadth,
    * exact-duplicate rate (bag-of-words fingerprint groups) and the
    * rule-based quality keep rate, all in exact integers/ppm. One scan
    * feeds the per-doc flags; the dup rate adds one content-keyed
    * aggregation — the same shapes x_dedup_exact and x_text_stats
    * already prove, composed into the release artifact. */
  val xDatasetCard = Q(
    "x_dataset_card",
    wsCte +
      """, fp AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS f,
        |    CAST(len(ws) AS BIGINT) AS n_tokens
        |  FROM t),
        |ex AS (SELECT doc_id, n_tokens,
        |    doc_id <> MIN(doc_id) OVER (PARTITION BY f) AS is_dup
        |  FROM fp),
        |q AS (SELECT doc_id,
        |    least(CAST(len(text) AS DOUBLE) / 500, 1.0) * 0.4
        |    + CAST(len(list_filter(ws,
        |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |      / len(ws) * 0.4
        |    + (1.0 - CAST(len(regexp_replace(text,
        |        '[^.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE)
        |      / len(text)) * 0.2 >= 0.35 AS keep
        |  FROM t)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(e.n_tokens) AS BIGINT) AS n_tokens,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS n_chars,
        |  (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
        |  (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
        |  COUNT(*) FILTER (WHERE e.is_dup) * 1000000 // COUNT(*)
        |    AS dup_ppm,
        |  COUNT(*) FILTER (WHERE q.keep) * 1000000 // COUNT(*)
        |    AS quality_keep_ppm
        |FROM ex e JOIN q USING (doc_id)""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val wFp = Window.partitionBy(col("fingerprint"))
    val flags = docs.select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fingerprint"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
        (TextFns.qualityScore(col("text")) >= 0.35).as("keep"))
      .withColumn("is_dup", col("doc_id") =!= min(col("doc_id")).over(wFp))
    val dims = docs.agg(
      org.apache.spark.sql.functions.sum(col("n_chars")).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    flags.agg(
        count(lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum(col("n_tokens")).as("n_tokens"),
        count(when(col("is_dup"), lit(1))).as("__nd"),
        count(when(col("keep"), lit(1))).as("__nk"))
      .crossJoin(broadcast(dims))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_sources"),
        expr("__nd * 1000000 div n_docs").as("dup_ppm"),
        expr("__nk * 1000000 div n_docs").as("quality_keep_ppm"))
  }

  /** Multinomial Naive Bayes train+score in one dataflow
    * (Relevance.naiveBayesClassify): the `source` column is the class
    * label; add-one smoothing; every ln quantized to BIGINT microunits at
    * the (class, token) type level, per-doc accumulation pure integer. */
  /** Shared NB CTE chain ending in `scores (doc_id, cl, actual,
    * score_micro)` — the per-(doc, class) matrix both the argmax
    * classifier and the label-issue detector read, factored so the model
    * definition can never drift between them. */
  private val nbScoresCte =
    """WITH t AS (SELECT doc_id, source AS cl,
      |    string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
      |tok AS (SELECT doc_id, cl, UNNEST(ws) AS w FROM t),
      |m AS (SELECT cl, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |ns AS (SELECT cl, SUM(c) AS n_s FROM m GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w) AS vocab FROM tok),
      |cls AS (SELECT source AS cl, COUNT(*) AS n_docs FROM documents
      |        GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS total_docs FROM documents),
      |lw AS (SELECT m.cl, m.w, CAST(floor(ln(CAST(c + 1 AS DOUBLE) /
      |      CAST(n_s + vocab AS DOUBLE)) * 1000000) AS BIGINT) AS lw_micro
      |  FROM m JOIN ns ON m.cl = ns.cl CROSS JOIN v),
      |defs AS (SELECT cl, CAST(floor(ln(1.0 /
      |      CAST(n_s + vocab AS DOUBLE)) * 1000000) AS BIGINT) AS def_micro
      |  FROM ns CROSS JOIN v),
      |pri AS (SELECT cl, CAST(floor(ln(CAST(n_docs AS DOUBLE) /
      |      CAST(total_docs AS DOUBLE)) * 1000000) AS BIGINT) AS pri_micro
      |  FROM cls CROSS JOIN tot),
      |dt AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |ntok AS (SELECT doc_id, cl AS actual,
      |    CAST(len(ws) AS BIGINT) AS n_tokens FROM t),
      |matched AS (SELECT dt.doc_id, lw.cl,
      |    CAST(SUM(dt.tf * lw.lw_micro) AS BIGINT) AS s_matched,
      |    CAST(SUM(dt.tf) AS BIGINT) AS n_matched
      |  FROM dt JOIN lw ON dt.w = lw.w GROUP BY 1, 2),
      |scores AS (SELECT n.doc_id, c2.cl, n.actual,
      |    pri.pri_micro + COALESCE(m2.s_matched, 0) +
      |    (n.n_tokens - COALESCE(m2.n_matched, 0)) * defs.def_micro
      |      AS score_micro
      |  FROM ntok n CROSS JOIN (SELECT cl FROM cls) c2
      |  LEFT JOIN matched m2 ON n.doc_id = m2.doc_id AND c2.cl = m2.cl
      |  JOIN pri ON c2.cl = pri.cl JOIN defs ON c2.cl = defs.cl)
      |""".stripMargin

  val xNbClassify = Q(
    "x_nb_classify",
    nbScoresCte +
      """, win AS (SELECT doc_id, cl, actual, score_micro, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_micro DESC, cl ASC) AS rn
        |  FROM scores)
        |SELECT doc_id, cl AS predicted, score_micro, actual,
        |  (cl = actual) AS correct
        |FROM win WHERE rn = 1""".stripMargin) { (s, d) =>
    graft.text.Relevance.naiveBayesClassifyFromMatrix(nbMatrixPersisted(s, d))
  }

  /** Persist-and-derive for the NB doc×class score matrix — the
    * x_dedup_clusters_persisted discipline applied to the classifier
    * family: the matrix (token shuffle + model joins, the expensive
    * artifact) is computed ONCE per (session, corpus) and parqueted; the
    * three consumers (x_nb_classify / x_label_issues / x_abstention) are
    * bounded-group windows and broadcast joins over that table. Each
    * consumer's DuckDB oracle still recomputes the matrix from scratch,
    * so every green row re-proves table-derived ≡ recomputed. */
  private def nbMatrixPersisted(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Artifacts.parquet(s, d, "graft-nb-matrix")(
      graft.text.Relevance.nbScoreMatrix(
        Tables.documents(s, d), "doc_id", "text", "source"))

  /** Confident-learning label-issue flags
    * ([[graft.text.Relevance.nbLabelIssues]]): class thresholds are mean
    * self-scores, a doc is flagged when its argmax class differs from
    * the given label AND clears that class's threshold. The mean compare
    * is division-free (score·n ≥ Σ in HUGEINT/DECIMAL — negative
    * integer division is engine-divergent). Same scores CTE as
    * x_nb_classify, so the model cannot drift between the two. */
  val xLabelIssues = Q(
    "x_label_issues",
    nbScoresCte +
      """, win AS (SELECT doc_id, cl, actual, score_micro, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_micro DESC, cl ASC) AS rn
        |  FROM scores),
        |arg AS (SELECT doc_id, cl AS predicted, actual, score_micro
        |        FROM win WHERE rn = 1),
        |thr AS (SELECT cl AS predicted,
        |    CAST(SUM(score_micro) AS HUGEINT) AS t_sum,
        |    COUNT(*) AS t_n
        |  FROM scores WHERE cl = actual GROUP BY 1)
        |SELECT a.doc_id, a.actual, a.predicted,
        |  (a.predicted <> a.actual
        |    AND CAST(a.score_micro AS HUGEINT) * t.t_n >= t.t_sum) AS flagged
        |FROM arg a JOIN thr t ON a.predicted = t.predicted"""
        .stripMargin) { (s, d) =>
    graft.text.Relevance.nbLabelIssuesFromMatrix(nbMatrixPersisted(s, d))
  }

  /** Margin-based selective classification
    * ([[graft.text.Relevance.nbAbstention]]): predict only when the
    * top1−top2 NB score margin clears 2·10⁶ micro-units (~e² likelihood
    * ratio); below it the document routes to review. Same scores CTE as
    * the classifier — margins are exact integer differences. */
  val xAbstention = Q(
    "x_abstention",
    nbScoresCte +
      """, win AS (SELECT doc_id, cl, actual, score_micro, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_micro DESC, cl ASC) AS rn
        |  FROM scores),
        |t1 AS (SELECT doc_id, actual, cl AS predicted, score_micro AS s1
        |       FROM win WHERE rn = 1),
        |t2 AS (SELECT doc_id, score_micro AS s2 FROM win WHERE rn = 2)
        |SELECT t1.doc_id, t1.actual, t1.predicted,
        |  t1.s1 - t2.s2 AS margin_micro,
        |  COALESCE(t1.s1 - t2.s2 < 2000000, TRUE) AS abstain
        |FROM t1 LEFT JOIN t2 ON t1.doc_id = t2.doc_id""".stripMargin) {
    (s, d) =>
    graft.text.Relevance.nbAbstentionFromMatrix(nbMatrixPersisted(s, d),
      marginMicro = 2000000L)
  }

  /** Per-class confusion summary (Relevance.classifierEval) over the
    * lang-ID heuristic's predictions vs the actual lang column —
    * precision/recall in integer ppm over the class dimension. */
  val xLangEval = Q(
    "x_lang_eval",
    wsCte +
      s""", p AS (SELECT doc_id, lang AS actual, $langIdCaseSql AS predicted
         |  FROM t),
         |a AS (SELECT actual AS cl, COUNT(*) AS n_actual FROM p GROUP BY 1),
         |pr AS (SELECT predicted AS cl, COUNT(*) AS n_predicted FROM p
         |       GROUP BY 1),
         |c AS (SELECT actual AS cl, COUNT(*) AS n_correct FROM p
         |      WHERE actual = predicted GROUP BY 1),
         |j AS (SELECT cl, COALESCE(n_actual, 0) AS n_actual,
         |    COALESCE(n_predicted, 0) AS n_predicted,
         |    COALESCE(n_correct, 0) AS n_correct
         |  FROM a FULL OUTER JOIN pr USING (cl) LEFT JOIN c USING (cl))
         |SELECT cl, n_actual, n_predicted, n_correct,
         |  CASE WHEN n_predicted > 0
         |    THEN (n_correct * 1000000) // n_predicted END AS precision_ppm,
         |  CASE WHEN n_actual > 0
         |    THEN (n_correct * 1000000) // n_actual END AS recall_ppm
         |FROM j""".stripMargin) { (s, d) =>
    val preds = Tables.documents(s, d).select(
      col("lang").as("actual"), TextFns.langId(col("text")).as("predicted"))
    graft.text.Relevance.classifierEval(preds, "actual", "predicted")
  }

  /** Gopher-heuristics quality filter ([[TextFns.gopherRules]]): the
    * published rule bundle as per-doc verdicts + the final keep — every
    * threshold an exact integer cross-multiplication, one corpus scan,
    * zero shuffles. */
  val xGopherRules = Q(
    "x_gopher_rules",
    """WITH t AS (SELECT doc_id, text,
      |    string_split_regex(trim(lower(text)), '\s+') AS ws,
      |    string_split(text, chr(10)) AS lines
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_w,
      |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_len,
      |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
      |    CAST(len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_ell,
      |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
      |      AS BIGINT) AS alpha_w,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(lines,
      |      l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bullet_l,
      |    CAST(len(list_filter(lines,
      |      l -> regexp_matches(l, '\.\.\.\s*$'))) AS BIGINT) AS ell_l,
      |    CAST(len(list_intersect(list_distinct(ws),
      |      ['the','a','of','and','to','in','is']))
      |      AS BIGINT) AS stop_hits
      |  FROM t)
      |SELECT doc_id, n_w AS n_words,
      |  n_w >= 50 AND n_w <= 100000 AS r_word_count,
      |  sum_len >= n_w * 3 AND sum_len <= n_w * 10 AS r_word_len,
      |  (n_hash + n_ell) * 10 <= n_w AS r_symbol,
      |  bullet_l * 10 <= n_lines * 9 AS r_bullet,
      |  ell_l * 10 <= n_lines * 3 AS r_ellipsis,
      |  alpha_w * 10 >= n_w * 8 AS r_alpha,
      |  stop_hits >= 2 AS r_stopwords,
      |  (n_w >= 50 AND n_w <= 100000)
      |    AND (sum_len >= n_w * 3 AND sum_len <= n_w * 10)
      |    AND ((n_hash + n_ell) * 10 <= n_w)
      |    AND (bullet_l * 10 <= n_lines * 9)
      |    AND (ell_l * 10 <= n_lines * 3)
      |    AND (alpha_w * 10 >= n_w * 8)
      |    AND (stop_hits >= 2) AS keep
      |FROM m""".stripMargin) { (s, d) =>
    val rules = TextFns.gopherRules(col("text"))
    Tables.documents(s, d).select(
      col("doc_id") +:
        TextFns.tokenCount(col("text")).cast("long").as("n_words") +:
        rules.map { case (n, c) => c.as(n) } :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** Flesch-Kincaid grade heuristic in exact integer microunits:
    * fk_micro = 390000·words div sentences + 11800000·syllables div words
    * − 15590000 (syllables ≈ vowel-group runs, sentences ≈ [.!?]+ runs,
    * both clamped ≥ 1) — the readability signal a curation pipeline
    * buckets by, with no float in the carry. One scan, zero shuffles. */
  val xReadability = Q(
    "x_readability",
    """WITH m AS (SELECT doc_id,
      |    greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+'))
      |      AS BIGINT), 1) AS n_w,
      |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
      |      1) AS n_s,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS syl
      |  FROM documents)
      |SELECT doc_id, n_w AS n_words, n_s AS n_sents, syl AS n_syllables,
      |  390000 * n_w // n_s + 11800000 * syl // n_w - 15590000 AS fk_micro
      |FROM m""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      greatest(TextFns.tokenCount(col("text")).cast("long"), lit(1L))
        .as("n_w"),
      greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast("long"), lit(1L)).as("n_s"),
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast("long").as("syl"))
      .select(col("doc_id"), col("n_w").as("n_words"),
        col("n_s").as("n_sents"), col("syl").as("n_syllables"),
        expr("390000 * n_w div n_s + 11800000 * syl div n_w - 15590000")
          .as("fk_micro"))
  }

  /** Vocabulary coverage / OOV rate per source: the share of corpus
    * tokens NOT covered by the df-ranked top-200 vocabulary (x_vocab's
    * definition — shared ordering so the two can't drift). The vocab is
    * a broadcast dimension; coverage is one map-side left join + one
    * source-keyed aggregation. The tokenizer-sizing metric beside
    * x_tok_fertility. */
  val xVocabCoverage = Q(
    "x_vocab_coverage",
    wsCte.replace("doc_id, text, lang,", "doc_id, text, lang, source,") +
      """, w AS (SELECT doc_id, source, unnest(ws) AS word FROM t),
        |v AS (SELECT word FROM (
        |  SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1
        |  ORDER BY df DESC, word LIMIT 200) x),
        |j AS (SELECT w.source,
        |    CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END AS inv
        |  FROM w LEFT JOIN v ON w.word = v.word)
        |SELECT source, COUNT(*) AS n_tokens,
        |  CAST(SUM(inv) AS BIGINT) AS n_in_vocab,
        |  CAST((COUNT(*) - SUM(inv)) * 1000000 // COUNT(*) AS BIGINT)
        |    AS oov_ppm
        |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d).select(col("source"), col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("word"))
    val vocab = toks.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("word")).limit(200)
      .select(col("word"), lit(1L).as("inv"))
    toks.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("inv"), lit(0L))).as("n_in_vocab"))
      .select(col("source"), col("n_tokens"), col("n_in_vocab"),
        expr("(n_tokens - n_in_vocab) * 1000000 div n_tokens").as("oov_ppm"))
  }

  /** Tokenizer fertility per source: BPE-ish tokens per whitespace word
    * (fertility_ppm) and raw characters per BPE-ish token — the
    * compression profile that decides whether a tokenizer suits a corpus
    * slice. Exact integer sums, ppm divisions at the boundary. */
  val xTokFertility = Q(
    "x_tok_fertility",
    """WITH t AS (SELECT source,
      |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
      |      AS w,
      |    CAST(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS b,
      |    CAST(len(text) AS BIGINT) AS c
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS n_words,
      |  CAST(SUM(b) AS BIGINT) AS n_bpeish,
      |  CAST(SUM(b) * 1000000 // SUM(w) AS BIGINT) AS fertility_ppm,
      |  CAST(SUM(c) * 1000000 // SUM(b) AS BIGINT) AS chars_per_tok_ppm
      |FROM t GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("source"),
      TextFns.tokenCount(col("text")).cast("long").as("w"),
      TextFns.bpeishCount(col("text")).cast("long").as("b"),
      length(col("text")).cast("long").as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("b")).as("n_bpeish"),
        expr("sum(b) * 1000000 div sum(w)").as("fertility_ppm"),
        expr("sum(c) * 1000000 div sum(b)").as("chars_per_tok_ppm"))
  }

  /** ROUGE-1/2 + BLEU-2 generation eval (GenEval.rougeBleuPairs) over
    * deterministic candidate/reference pairs (doc i vs doc i+1). Every
    * ratio metric is an exact-integer ppm; the one log output goes
    * through QuantLn.lnMicro. The oracle rebuilds the n-gram clipped
    * overlaps from scratch (lateral UNNEST(range) for bigram positions),
    * so green proves the whole metric pipeline, not just the plumbing. */
  val xEvalRougeBleu = Q(
    "x_eval_rouge_bleu",
    """WITH p AS (SELECT a.doc_id AS pair_id,
      |    string_split_regex(trim(lower(a.text)), '\s+') AS cw,
      |    string_split_regex(trim(lower(b.text)), '\s+') AS rw
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
      |c1 AS (SELECT pair_id, unnest(cw) AS g FROM p),
      |r1 AS (SELECT pair_id, unnest(rw) AS g FROM p),
      |cc1 AS (SELECT pair_id, g, COUNT(*) AS n FROM c1 GROUP BY 1, 2),
      |rc1 AS (SELECT pair_id, g, COUNT(*) AS n FROM r1 GROUP BY 1, 2),
      |o1 AS (SELECT cc1.pair_id, CAST(SUM(LEAST(cc1.n, rc1.n)) AS BIGINT) AS ov1
      |  FROM cc1 JOIN rc1 ON cc1.pair_id = rc1.pair_id AND cc1.g = rc1.g
      |  GROUP BY 1),
      |c2 AS (SELECT pair_id, cw[pos] || ' ' || cw[pos + 1] AS g
      |  FROM p, UNNEST(range(1, len(cw))) AS u(pos) WHERE len(cw) >= 2),
      |r2 AS (SELECT pair_id, rw[pos] || ' ' || rw[pos + 1] AS g
      |  FROM p, UNNEST(range(1, len(rw))) AS u(pos) WHERE len(rw) >= 2),
      |cc2 AS (SELECT pair_id, g, COUNT(*) AS n FROM c2 GROUP BY 1, 2),
      |rc2 AS (SELECT pair_id, g, COUNT(*) AS n FROM r2 GROUP BY 1, 2),
      |o2 AS (SELECT cc2.pair_id, CAST(SUM(LEAST(cc2.n, rc2.n)) AS BIGINT) AS ov2
      |  FROM cc2 JOIN rc2 ON cc2.pair_id = rc2.pair_id AND cc2.g = rc2.g
      |  GROUP BY 1),
      |m AS (SELECT p.pair_id, len(cw) AS c1l, len(rw) AS r1l,
      |    GREATEST(len(cw) - 1, 0) AS c2l, GREATEST(len(rw) - 1, 0) AS r2l,
      |    COALESCE(ov1, 0) AS ov1, COALESCE(ov2, 0) AS ov2
      |  FROM p LEFT JOIN o1 ON p.pair_id = o1.pair_id
      |    LEFT JOIN o2 ON p.pair_id = o2.pair_id)
      |SELECT pair_id, c1l AS c1_len, r1l AS r1_len, ov1, ov2,
      |  CAST(floor(ov1 * 1000000.0 / c1l) AS BIGINT) AS r1_p_ppm,
      |  CAST(floor(ov1 * 1000000.0 / r1l) AS BIGINT) AS r1_r_ppm,
      |  CAST(floor(ov1 * 2 * 1000000.0 / (c1l + r1l)) AS BIGINT) AS r1_f_ppm,
      |  CASE WHEN c2l + r2l = 0 THEN 0
      |    ELSE CAST(floor(ov2 * 2 * 1000000.0 / (c2l + r2l)) AS BIGINT)
      |    END AS r2_f_ppm,
      |  CASE WHEN c2l = 0 THEN NULL
      |    ELSE CAST(floor(ov2 * 1000000.0 / c2l) AS BIGINT)
      |    END AS bleu_p2_ppm,
      |  CASE WHEN ov1 = 0 OR ov2 = 0 OR c2l = 0 THEN NULL
      |    ELSE (CASE WHEN c1l >= r1l THEN 0
      |          ELSE CAST(floor((c1l - r1l) * 2000000.0 / c1l) AS BIGINT) END)
      |      + CAST(floor(ln((ov1 * 1.0 / c1l) * (ov2 * 1.0 / c2l))
      |          * 1000000) AS BIGINT)
      |    END AS bleu2_2xlog_micro
      |FROM m""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val pairs = docs.select(col("doc_id").as("pair_id"), col("text").as("cand"))
      .join(docs.select((col("doc_id") - 1).as("pair_id"), col("text").as("ref")),
        Seq("pair_id"))
    graft.text.GenEval.rougeBleuPairs(pairs, "pair_id", "cand", "ref")
  }

  val all: Seq[Q] = Seq(xTextStats, xLangId, xLenQuantiles, xRepetition,
    xVocab, xCorpusStats, xDistinctKmv, xDistinctHll, xKmvSetops, xDedupExact,
    xDedupExactMembers, xDedupNorm,
    xTfidf, xBm25, xBigramLm, xPerplexity, xScriptMix, xTokenEntropy,
    xHeavyHitters, xFingerprint,
    xQualityBuckets,
    xImportanceWeight, xHistQuantiles, xCollocations, xBpeMerges,
    xBpeTokenize, xHtmlStrip, xQualityClassifier, xNbClassify, xLabelIssues,
    xAbstention, xLangEval,
    xGopherRules, xReadability, xTokFertility, xVocabCoverage,
    xCalibrationBins, xAuc, xDatasetCard, xEvalRougeBleu,
    xAvgPrecision, xIsotonicFit, xNdcg, xAucByLang, xAnnotatorKappa)
}
