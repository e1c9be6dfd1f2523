package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over the documents table: token statistics,
  * language ID, quality scoring, fingerprinting, and the reference's C8/C9
  * cleaning chain (utils/clean.go:9-111) end-to-end.
  *
  * All per-row math is single IEEE operations over integer-derived inputs
  * (no order-dependent float accumulation), so results hash-match the
  * DuckDB oracle without rounding tricks. Everything is a narrow map +
  * one small aggregation — embarrassingly parallel at any scale.
  */
object TextOps {

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "is", "in")

  // --------------------------------------------------------- token stats
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), size(split(col("text"), " ", -1)).as("n_tokens"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("avg_tokens", col("total_tokens").cast("double") / col("n_docs"))
      .orderBy("lang")

  val tokenStatsSql: String =
    """SELECT *, CAST(total_tokens AS DOUBLE)/n_docs AS avg_tokens FROM (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |    CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM documents GROUP BY lang)
      |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------- lang id
  /** Predicted vs labeled language confusion counts. The SQL mirrors the
    * marker-token heuristic exactly, including the (hits, lang)
    * lexicographic tiebreak.
    */
  def langIdConfusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Explode + broadcast marker join + one hash aggregate: fully
    // codegen'd, vs the per-row higher-order-function langId (interpreted,
    // measured 8s at sf0.1). Same semantics incl. the (hits, lang)
    // lexicographic tiebreak.
    val docs = Tables.documents(s, d)
    val markers = broadcast(
      langMarkers.flatMap { case (l, ts) => ts.map(t => (t, l)) }.toDF("tok", "mlang"))
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(tokens(lower(col("text")))).as("tok"))
    val aggCols = langMarkers.map { case (l, _) =>
      count(when(col("mlang") === l, 1)).as(s"h_$l")
    }
    val hits = toks.join(markers, "tok")
      .groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val hitCols = langMarkers.map { case (l, _) => coalesce(col(s"h_$l"), lit(0L)) }
    val best = array_max(array(langMarkers.zip(hitCols).map { case ((l, _), h) =>
      struct(h.as("hits"), lit(l).as("lang"))
    }: _*))
    docs.join(hits, Seq("doc_id"), "left")
      .select(col("lang"),
        when(best.getField("hits") > 0, best.getField("lang"))
          .otherwise(lit("und")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  val langIdConfusionSql: String =
    """WITH t AS (SELECT lang, string_split(trim(lower(text)), ' ') AS toks FROM documents),
      |h AS (SELECT lang,
      |  len(list_filter(toks, x -> list_contains(['the','and','of','to','is'], x))) AS he,
      |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS hd,
      |  len(list_filter(toks, x -> list_contains(['el','la','los','las','es'], x))) AS hs,
      |  len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS hf,
      |  len(list_filter(toks, x -> list_contains(['的','是','了','在','我'], x))) AS hz
      |FROM t),
      |p AS (SELECT lang, CASE
      |  WHEN greatest(he, hd, hs, hf, hz) = 0 THEN 'und'
      |  WHEN hz = greatest(he, hd, hs, hf, hz) THEN 'zh'
      |  WHEN hf = greatest(he, hd, hs, hf, hz) THEN 'fr'
      |  WHEN hs = greatest(he, hd, hs, hf, hz) THEN 'es'
      |  WHEN he = greatest(he, hd, hs, hf, hz) THEN 'en'
      |  ELSE 'de' END AS predicted FROM h)
      |SELECT lang, predicted, count(*) AS n FROM p
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  // ------------------------------------------------------ quality scores
  /** Per-doc quality scoring; SQL mirrors the exact expression tree so the
    * doubles are bit-identical.
    */
  def qualityScores(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        punctRatio(col("text")).as("punct_ratio"),
        stopwordRatio(col("text"), stopwords).as("stop_ratio"),
        qualityScore(col("text"), stopwords).as("quality"))
      .orderBy("doc_id")

  val qualityScoresSql: String =
    """WITH t AS (SELECT doc_id, text,
       |  string_split(trim(text), ' ') AS toks,
       |  string_split(trim(lower(text)), ' ') AS ltoks FROM documents),
       |m AS (SELECT doc_id, text, toks,
       |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
       |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS punct_ratio,
       |  CAST(len(list_filter(ltoks, x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE)
       |    / greatest(len(ltoks), 1) AS stop_ratio
       |FROM t)
       |SELECT doc_id, n_tokens, n_bpeish, punct_ratio, stop_ratio,
       |  (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * (1.0 - punct_ratio))
       |    * (1.0 - 0.5 * stop_ratio) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- fingerprint
  /** md5-based content fingerprint of the normalized text (lowercase,
    * whitespace-collapsed) — the cross-engine-checkable counterpart of the
    * xxhash64 `fingerprint` in TextFunctions.
    */
  def fingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        substring(md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))), 1, 16).as("fp"))
      .orderBy("doc_id")

  val fingerprintsSql: String =
    """SELECT doc_id,
      |  substring(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- cleantext
  /** C8/C9 cleaning chain (ascii fold is identity on this corpus but the
    * ops still run): gate, fold, collapse, truncate to 80 with ellipsis.
    */
  def cleanedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        cleanText(col("text"), 80).as("cleaned"),
        cleanString(substring(col("text"), 1, 40)).as("alnum40"))
      .orderBy("doc_id")

  val cleanedDocsSql: String =
    """WITH f AS (SELECT doc_id, text,
      |  CASE WHEN length(text) < 5 THEN ''
      |       ELSE replace(replace(replace(text, '&', 'and'), '''', ''), '|', '')
      |  END AS gated
      |FROM documents)
      |SELECT doc_id,
      |  CASE WHEN length(gated) > 80 THEN substring(gated, 1, 77) || '...'
      |       ELSE gated END AS cleaned,
      |  regexp_replace(substring(text, 1, 40), '[^a-zA-Z0-9]+', '', 'g') AS alnum40
      |FROM f ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- tf-idf
  /** Top-5 distinguishing tokens per language by tf·(N/df). The idf factor
    * is the exact rational N/df (one integer product, one IEEE division) —
    * log-idf would pull in libm, which differs across engines in the last
    * ulp and breaks hash comparison; the RANKING is the same monotone
    * transform. One explode, three hash aggregations, one window — linear
    * at any corpus size.
    */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("lang"), col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy("lang", "tok").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok").crossJoin(broadcast(total))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("tok"), col("score"))
      .orderBy("lang", "rank")
  }

  val tfidfTopTermsSql: String =
    """WITH toks AS (SELECT lang, doc_id,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |tf AS (SELECT lang, tok, count(*) AS tf FROM toks GROUP BY lang, tok),
      |df AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
      |total AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (SELECT lang, tok, CAST(tf * n_docs AS DOUBLE) / df AS score
      |           FROM tf JOIN df USING (tok) CROSS JOIN total),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY lang
      |             ORDER BY score DESC, tok) AS rank FROM scored)
      |SELECT lang, CAST(rank AS INT) AS rank, tok, score FROM ranked
      |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  // ------------------------------------------------- zipf coverage curve
  /** Head size for the rank–frequency curve; bounds the final window. */
  val ZIPF_TOP_K = 200

  /** t20: Zipf rank–frequency head + cumulative token-mass coverage.
    *
    * For the top-[[ZIPF_TOP_K]] corpus tokens by frequency: rank, exact
    * `rank·f` (Zipf's law predicts this stays roughly constant down the
    * head) and the cumulative share of ALL token mass covered by ranks
    * 1..r, in exact ppm (`cum_f·10^6 div total`). The coverage curve is
    * the vocabulary-sizing companion to t17's BPE encoder: "what head
    * vocabulary covers X% of the corpus" read directly off `cum_ppm`,
    * and the stopword cutoff is the knee of the same curve.
    *
    * Scale: one explode → one vocab-keyed hash aggregate (map-side
    * partial combine absorbs heavy tokens before the exchange — the
    * exchange carries ≤ |vocab| rows, not |tokens|); the head is
    * TakeOrderedAndProject (no global sort); the single unpartitioned
    * window runs over exactly K=200 rows (bounded by construction — the
    * documented PLANS.md class); `total` is a 1-row broadcast. All
    * arithmetic is int64 (t15 discipline), so the curve hash-matches
    * DuckDB exactly.
    */
  def zipfCoverage(s: SparkSession, d: String): DataFrame =
    zipfCoverageOf(Tables.documents(s, d))

  /** t20 over any frame with a `text` column (spec-injectable face). */
  def zipfCoverageOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    // same value as sum(tf.f), but per-doc counts + a partial-sum scan —
    // no second pass through the vocab-keyed aggregate
    val total = docs
      .select(size(tokens(lower(col("text")))).cast("long").as("n"))
      .agg(sum(col("n")).as("total_tokens"))
    val topK = tf.orderBy(col("f").desc, col("tok")).limit(ZIPF_TOP_K)
    val w = Window.orderBy(col("f").desc, col("tok")) // K rows, bounded
    topK.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_f", sum(col("f")).over(w))
      .select(col("rank"), col("tok"), col("f"),
        (col("rank") * col("f")).as("rf"),
        expr("(cum_f * 1000000) div total_tokens").as("cum_ppm"))
      .orderBy("rank")
  }

  val zipfCoverageSql: String =
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      |              FROM documents),
      |tf AS (SELECT tok, count(*) AS f FROM toks GROUP BY tok),
      |total AS (SELECT CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS BIGINT)
      |            AS total_tokens FROM documents),
      |topk AS (SELECT tok, f FROM tf ORDER BY f DESC, tok LIMIT $ZIPF_TOP_K),
      |r AS (SELECT *, row_number() OVER (ORDER BY f DESC, tok) AS rank,
      |        sum(f) OVER (ORDER BY f DESC, tok) AS cum_f FROM topk)
      |SELECT CAST(rank AS BIGINT) AS rank, tok, CAST(f AS BIGINT) AS f,
      |  CAST(rank * f AS BIGINT) AS rf,
      |  CAST((cum_f * 1000000) // total_tokens AS BIGINT) AS cum_ppm
      |FROM r CROSS JOIN total ORDER BY rank""".stripMargin

  // ------------------------------------------------------------ winnowing
  /** t08: winnowing fingerprints (the rolling-hash document fingerprint of
    * Schleimer/Wilkerson/Aiken): hash every positional word-3-gram, slide a
    * window of 4 hashes, keep each window's min — the distinct mins are the
    * doc's fingerprint set, robust to local edits. Uses the cross-engine
    * md5-derived hash family (graft.operators.Dedup.baseHash) so the whole
    * structure is oracle-checkable. One explode + one window + one
    * aggregate; linear, no shuffle of document bodies.
    */
  def winnowingFingerprints(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
    val grams = docs
      .withColumn("i", explode(sequence(lit(0), size(col("tk")) - 3)))
      .select(col("doc_id"), col("i"),
        graft.operators.Dedup.baseHash(concat_ws(" ",
          element_at(col("tk"), col("i") + 1),
          element_at(col("tk"), col("i") + 2),
          element_at(col("tk"), col("i") + 3))).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i")).rowsBetween(0, 3)
    val n = Window.partitionBy(col("doc_id"))
    grams
      .withColumn("n_grams", count(lit(1)).over(n))
      .withColumn("wmin", min(col("h")).over(w))
      // windows that extend past the end are excluded unless the doc has
      // fewer grams than one window (then the single full-doc window stays)
      .filter(col("i") <= col("n_grams") - 4 || (col("n_grams") < 4 && col("i") === 0))
      .groupBy("doc_id")
      .agg(countDistinct(col("wmin")).as("n_fingerprints"),
        min(col("wmin")).as("min_fingerprint"))
      .orderBy("doc_id")
  }

  val winnowingFingerprintsSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |           FROM documents),
      |d AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 3),
      |g AS (SELECT doc_id, i - 1 AS i,
      |        CAST(concat('0x', substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15)) AS BIGINT) AS h
      |      FROM d, unnest(range(1, len(tk) - 1)) AS r(i)),
      |wm AS (SELECT doc_id, i,
      |         count(*) OVER (PARTITION BY doc_id) AS n_grams,
      |         min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |       FROM g)
      |SELECT doc_id, count(DISTINCT wmin) AS n_fingerprints,
      |       min(wmin) AS min_fingerprint
      |FROM wm
      |WHERE i <= n_grams - 4 OR (n_grams < 4 AND i = 0)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- repetition
  /** t09: within-document repeated-3-gram stats (the Gopher/RefinedWeb
    * repetition quality signal — heavily self-repeating documents are
    * boilerplate or spam and get gated out of training corpora).
    * `dup_permille` = floor(1000 * repeated/total): one IEEE multiply +
    * divide + floor over exact integers, so the oracle hash-matches.
    * Shape: the d03 codegen shingle explode WITHOUT the distinct (we
    * want the duplicates) + one hash aggregate per doc — no HOFs, one
    * shuffle, embarrassingly parallel.
    */
  def repetitionStats(s: SparkSession, d: String): DataFrame =
    Dedup.shingleTable(Tables.documents(s, d), distinct = false)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("sh")).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        floor(lit(1000.0) * (col("n_grams") - col("n_distinct")) / col("n_grams"))
          .cast("long").as("dup_permille"))
      .orderBy("doc_id")

  val repetitionStatsSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id, unnest(
      |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |             ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                   FOR i IN range(1, len(toks)-1)] END) AS sh
      |      FROM t)
      |SELECT doc_id, count(*) AS n_grams, count(DISTINCT sh) AS n_distinct,
      |  CAST(floor(1000.0 * (count(*) - count(DISTINCT sh)) / count(*)) AS BIGINT)
      |    AS dup_permille
      |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ pii
  /** t10: PII detection + redaction (email / US-phone / IPv4) — the scrub
    * pass every public training corpus runs (C4, RefinedWeb, Dolma all
    * mask or drop PII spans). The synthetic corpus contains no digits, so
    * — like d06 — the PII is PLANTED in-query, deterministically by
    * doc_id residue, identically on both engines; the operator under test
    * is the detect/redact chain itself, exercised on real hits.
    *
    * Patterns stay in the RE2 ∩ java.util.regex common dialect (character
    * classes, bounded repetition — no backrefs, no lookaround) so both
    * engines match identical spans. Redaction order: email → phone → IP
    * (email must go first: its local part could otherwise be clipped by
    * an earlier IP/phone rewrite; phone and IP cannot overlap). The
    * redacted text is folded to an md5 fingerprint so the compare pins
    * the exact output string without shipping bodies.
    *
    * Scale shape: pure narrow map + orderBy — no shuffle before the final
    * sort, codegen'd regexp over each partition, embarrassingly parallel.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
  val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  def piiRedaction(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" reach user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" call 555-867-5309")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" host 10.0.0.42")).otherwise(lit("")))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(planted, emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipRe, "<IP>")
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_count(planted, lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(planted, lit(phoneRe)).cast("long").as("n_phones"),
        regexp_count(planted, lit(ipRe)).cast("long").as("n_ips"),
        substring(md5(redacted), 1, 16).as("red_fp"))
      .orderBy("doc_id")
  }

  val piiRedactionSql: String =
    """WITH p AS (SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0
      |            THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |            ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.0.42' ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(t, '\d{3}-\d{3}-\d{4}')) AS n_phones,
      |  len(regexp_extract_all(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS n_ips,
      |  substring(md5(
      |    regexp_replace(regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
      |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g')), 1, 16) AS red_fp
      |FROM p ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- typicality
  /** t11: unigram-typicality quality score — the corpus-frequency stand-in
    * for the LM-perplexity filter in CCNet/C4-style pipelines (docs whose
    * tokens are globally rare are disproportionately OCR noise, gibberish,
    * or wrong-language; docs of only ultra-common tokens are boilerplate).
    * Score = floor(mean over tokens of floor(tf/N · 10^9)) — per-token
    * surprise as a single IEEE divide+multiply+floor over exact integers
    * (log-perplexity would pull in libm, which differs across engines in
    * the last ulp; the RANKING is the same monotone family), so the oracle
    * hash-matches.
    *
    * Scale shape: one explode + hash-aggregate builds the term-frequency
    * table (map-side combined), the scored join shuffles (doc_id, tok)
    * against (tok, tf) — at real scale the tf table for a filter like
    * this is top-K vocabulary + default, i.e. broadcastable; the general
    * shuffle-join form is kept because vocabulary is unbounded. The
    * total-count side is a 1-row broadcast.
    */
  def typicality(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    // total token count from the (small) vocabulary table, not a third
    // scan+explode of the corpus
    val tot = tf.agg(sum(col("tf")).as("n"))
    toks.join(tf, "tok").crossJoin(broadcast(tot))
      .withColumn("sc", floor(col("tf").cast("double") / col("n") * lit(1.0e9)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        floor(sum(col("sc")).cast("double") / count(lit(1))).cast("long").as("typicality"))
      .orderBy("doc_id")
  }

  val typicalitySql: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents),
      |tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
      |tot AS (SELECT count(*) AS n FROM toks),
      |sc AS (SELECT doc_id, floor(CAST(tf AS DOUBLE) / n * 1000000000.0) AS sc
      |       FROM toks JOIN tf USING (tok) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(floor(sum(sc) / count(*)) AS BIGINT) AS typicality
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- boilerplate
  /** t12: frequency-threshold boilerplate removal — the C4 rule ("lines
    * occurring 3+ times in the corpus are removed") generalized to the
    * corpus's 8-token chunks. DIFFERENT from d10 paragraph dedup: d10
    * keeps the first occurrence of a duplicated paragraph; boilerplate
    * removal drops EVERY instance of any chunk whose corpus-wide count
    * reaches [[BOILER_MIN]] — a nav header repeated on 10k pages
    * shouldn't survive once, it shouldn't survive at all. Output is the
    * per-document damage report (chunk count, boilerplate instances,
    * permille) a curation gate thresholds on. The sf0.01 corpus carries
    * 17 organically repeated chunks at count ≥ 3, so the check exercises
    * real removals — no planting needed.
    *
    * Scale shape: chunks fold to 60-bit hashes in the explode's codegen
    * stage (shared [[Dedup.paraChunkTable]]); the corpus-wide count is a
    * count window over PARTITION BY h — the same exchange the d10
    * identity window uses, carrying (h, doc_id, chunk_no) longs only —
    * then one hash aggregate back to per-doc stats. Two thin shuffles,
    * no bodies, no driver round-trips; the permille is floor over exact
    * integers (t09-style) so the oracle hash-matches.
    */
  val BOILER_MIN = 3

  def boilerplateRemoval(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    Dedup.paraChunkTable(Tables.documents(s, d))
      .withColumn("boiler",
        (count(lit(1)).over(w) >= BOILER_MIN).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"), sum(col("boiler")).as("n_boiler_paras"))
      .select(col("doc_id"), col("n_paras"), col("n_boiler_paras"),
        floor(lit(1000.0) * col("n_boiler_paras") / col("n_paras"))
          .cast("long").as("boiler_permille"))
      .orderBy("doc_id")
  }

  val boilerplateRemovalSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      |           FROM documents),
      |c AS (SELECT doc_id, i AS chunk_no,
      |        CAST(concat('0x', substr(md5(array_to_string(
      |          tk[(i*${Dedup.PARA_TOKENS})+1 : (i+1)*${Dedup.PARA_TOKENS}], ' ')), 1, 15)) AS BIGINT) AS h
      |      FROM t, unnest(range(0, CAST(ceil(len(tk)/${Dedup.PARA_TOKENS}.0) AS BIGINT))) AS r(i)),
      |m AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt FROM c)
      |SELECT doc_id, count(*) AS n_paras,
      |  CAST(count(*) FILTER (cnt >= $BOILER_MIN) AS BIGINT) AS n_boiler_paras,
      |  CAST(floor(1000.0 * count(*) FILTER (cnt >= $BOILER_MIN) / count(*)) AS BIGINT)
      |    AS boiler_permille
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- Gopher-style rules
  /** t13: Gopher-style document quality rules (Rae et al., "Scaling
    * Language Models: ... Gopher", 2021, table A1 — the rule family
    * behind MassiveWeb filtering, also the C4/FineWeb shape): per-doc
    * word count, mean word length, fraction of words containing an
    * alphabetic character, and stopword presence, each against a fixed
    * threshold; `gopher_pass` is their conjunction. Unlike t03's single
    * blended score, each rule is independently reported — that is what a
    * corpus engineer tunes.
    *
    * All measures are exact integer arithmetic (permille via `div`), so
    * the oracle hash-matches: no float ratio ever crosses the engine
    * boundary. Narrow per-row work; one final global sort. Every measure
    * is a codegen'd regexp/length expression — no interpreted HOF lambda
    * touches the token array (the first cut filtered tokens per lambda
    * and cost 1.65 s at sf0.1; these forms compute the same values):
    * word chars = non-whitespace chars; a word "contains [a-z]" iff a
    * whitespace-bounded run reaches an [a-z] (one regexp_count); a
    * stopword is present iff it appears whitespace-bounded (one rlike
    * per stopword, 7 scans).
    */
  val G_MIN_WORDS = 10
  val G_MEAN_WLEN_MIN = 3000L  // permille: 3 chars
  val G_MEAN_WLEN_MAX = 10000L // permille: 10 chars
  val G_MIN_ALPHA_PERMILLE = 800L
  val G_MIN_STOP_HITS = 2

  def gopherRules(s: SparkSession, d: String): DataFrame =
    gopherFrame(s, d).orderBy("doc_id")

  /** The t13 frame without the registered query's terminal sort — the
    * reusable gate face (p10 composes it in front of dedup).
    */
  def gopherFrame(s: SparkSession, d: String): DataFrame = {
    val nWords = tokenCount(col("text")).cast("long")
    val wordChars = length(regexp_replace(col("text"), "\\s+", "")).cast("long")
    val alphaWords =
      regexp_count(trim(col("text")), lit("(?:^|\\s)[^\\s]*[a-z]")).cast("long")
    val stopHits = stopwords.map(sw =>
      when(lower(col("text")).rlike(s"(^|\\s)$sw(\\s|$$)"), 1L).otherwise(0L))
      .reduce(_ + _)
    Tables.documents(s, d)
      .select(col("doc_id"), nWords.as("n_words"),
        (wordChars * 1000L).as("wc1000"), alphaWords.as("aw"), stopHits.as("stop_hits"))
      .select(col("doc_id"), col("n_words"),
        expr("wc1000 div greatest(n_words, 1)").as("mean_wlen_permille"),
        expr("(aw * 1000) div greatest(n_words, 1)").as("alpha_permille"),
        col("stop_hits"))
      .withColumn("gopher_pass",
        (col("n_words") >= G_MIN_WORDS &&
          col("mean_wlen_permille") >= G_MEAN_WLEN_MIN &&
          col("mean_wlen_permille") <= G_MEAN_WLEN_MAX &&
          col("alpha_permille") >= G_MIN_ALPHA_PERMILLE &&
          col("stop_hits") >= G_MIN_STOP_HITS).cast("int"))
  }

  /** Shared DuckDB CTE fragment for the per-doc Gopher measures — CTEs
    * `gop_t`/`gop_m`(doc_id, n_words, mean_wlen_permille, alpha_permille,
    * stop_hits). Generated ONCE (stopword list included, from
    * [[stopwords]]) and consumed by [[gopherRulesSql]],
    * `Curation.gopherCurationSql` and `Curation.datasetProfileSql`, so a
    * measure change cannot silently desynchronize the three oracles (the
    * minhashCtePrefixSql discipline).
    */
  lazy val gopherMeasuresCteSql: String =
    s"""gop_t AS (SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words
      |  FROM documents),
      |gop_m AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |    (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) * 1000)
      |      // greatest(n_words, 1) AS mean_wlen_permille,
      |    (CAST(len(regexp_extract_all(trim(text), '(?:^|\\s)[^\\s]*[a-z]')) AS BIGINT) * 1000)
      |      // greatest(n_words, 1) AS alpha_permille,
      |    CAST(len(list_filter(${stopwords.map("'" + _ + "'").mkString("[", ",", "]")},
      |      s -> regexp_matches(lower(text), '(^|\\s)' || s || '(\\s|$$)'))) AS BIGINT) AS stop_hits
      |  FROM gop_t)""".stripMargin

  /** The t13 gate conjunction over `gop_m`'s columns — shared with the
    * same three consumers as [[gopherMeasuresCteSql]].
    */
  lazy val gopherPassSql: String =
    s"n_words >= $G_MIN_WORDS " +
      s"AND mean_wlen_permille BETWEEN $G_MEAN_WLEN_MIN AND $G_MEAN_WLEN_MAX " +
      s"AND alpha_permille >= $G_MIN_ALPHA_PERMILLE " +
      s"AND stop_hits >= $G_MIN_STOP_HITS"

  lazy val gopherRulesSql: String =
    s"""WITH $gopherMeasuresCteSql
      |SELECT doc_id, n_words, mean_wlen_permille, alpha_permille, stop_hits,
      |  CAST($gopherPassSql AS INT) AS gopher_pass
      |FROM gop_m ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- CMS heavy hitters
  /** t14: corpus heavy-hitter n-grams — the exact occurrence count of
    * every word-3-gram (60-bit hash) appearing more than once per
    * [[CMS_HH_DENOM]] shingle instances, i.e. the boilerplate-candidate
    * report a corpus engineer eyeballs before tuning t12's removal rule.
    * The threshold is `N div DENOM + 1` — pure integer arithmetic over
    * the exact instance count, so both engines derive the identical cut
    * and the φ-fraction semantics (Manku/Motwani-style) hold at any
    * corpus size, unlike an absolute count.
    *
    * Scale shape — the two-pass count-min heavy hitter: the naive form
    * shuffles the ENTIRE n-gram stream into a vocabulary-sized aggregate
    * (n-gram vocabularies run to billions at 100 TB). Pass 1 here folds
    * one corpus scan into a single eps-bounded count-min sketch via
    * partial aggregation (map-side sketches, tree merge — the only bytes
    * that reach the driver are one ~4.5 MB sketch + one count, CONSTANT
    * in corpus size; it then rides the stage-broadcast serialized plan
    * back out). Pass 2 probes the sketch per instance with the codegen
    * [[graft.expressions.CountMinProbe]] and kills the long tail BEFORE
    * the exact confirming aggregate — CMS never under-counts, so no true
    * heavy key is lost (the spec pins result ≡ sketch-free exact form and
    * the tail-kill rate). eps = 1/(2·DENOM): the expected estimate error
    * stays well under the threshold, so count-1 tail instances are
    * filtered with high probability while the bound guarantees
    * completeness regardless.
    */
  val CMS_HH_DENOM = 20000L
  val CMS_EPS: Double = 1.0 / (2.0 * CMS_HH_DENOM)
  val CMS_CONF = 0.99
  val CMS_SEED = 42

  /** NOTE (runner contract): unlike every other registered query, merely
    * CONSTRUCTING this frame runs pass 1 (one eager job folding the corpus
    * into the CMS — the `.head()` below) because the sketch must exist
    * before the pass-2 probe expression can be built. Plan-only tooling
    * (Explain sweeps, dry builds) therefore pays a full corpus scan on
    * t14; attribute that cost to pass 1 of the two-pass design, not to
    * the displayed pass-2 plan.
    */
  def heavyShingles(s: SparkSession, d: String): DataFrame =
    heavyShinglesAt(s, d, CMS_HH_DENOM)

  /** t14 with the fraction denominator as a parameter (the spec drops it
    * to exercise a higher threshold on the tiny fixture corpus).
    */
  def heavyShinglesAt(s: SparkSession, d: String, denom: Long): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    require(denom > 0, s"heavyShingles denominator must be positive, got $denom")
    val sh = Dedup.shingleTable(Tables.documents(s, d), distinct = false, hashed = true)
      .select(col("sh").as("h"))
    // Pass 1: bounded driver action — exactly one row carrying the merged
    // sketch and the instance total (see Scaladoc: size is (eps, conf)-
    // determined, independent of corpus size).
    val row = sh.agg(
      expr(s"count_min_sketch(h, CAST($CMS_EPS AS DOUBLE), " +
        s"CAST($CMS_CONF AS DOUBLE), $CMS_SEED)").as("cms"),
      count(lit(1)).as("n")).head()
    // empty corpus -> null sketch; refuse loudly instead of NPE-ing in
    // CountMinSketch.readFrom (the index-writer discipline)
    require(!row.isNullAt(0) && row.getAs[Long]("n") > 0L,
      s"heavyShingles: no shingle instances under $d/documents.parquet")
    val threshold = row.getAs[Long]("n") / denom + 1L
    val probe = ColumnShim.column(graft.expressions.CountMinProbe(
      ColumnShim.expression(col("h")), row.getAs[Array[Byte]]("cms")))
    // Pass 2: probe-filter (codegen, no shuffle) -> exact confirm on the
    // survivors only. The exact >= threshold re-check drops CMS false
    // positives, so the sketch never influences the RESULT — only the
    // bytes shuffled.
    sh.filter(probe >= threshold)
      .groupBy("h")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= threshold)
      .orderBy(col("n_occurrences").desc, col("h"))
  }

  val heavyShinglesSql: String =
    s"""WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
      |           FROM documents),
      |g AS (SELECT CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS h
      |      FROM (SELECT unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |                          ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                                FOR i IN range(1, len(toks)-1)] END) AS sh0
      |            FROM t)),
      |c AS (SELECT h, count(*) AS n_occurrences FROM g GROUP BY h),
      |tot AS (SELECT count(*) AS n FROM g)
      |SELECT h, n_occurrences FROM c, tot
      |WHERE n_occurrences >= n // $CMS_HH_DENOM + 1
      |ORDER BY n_occurrences DESC, h""".stripMargin

  // ------------------------------------------------------- bigram LM
  /** t15: bigram-LM typicality — the conditional-probability upgrade of
    * t11's unigram marginal, i.e. the corpus-self-trained stand-in for
    * the CCNet/C4 KenLM perplexity gate: per ordered token pair (a,b),
    * P(b|a) = C2(a,b) / C1(a) with C1(a) = Σ_b C2(a,b) (the bigram-PREFIX
    * count, so each conditional sums to exactly 1). Per-instance surprise
    * is quantized to floor(1e9·P) — one IEEE divide+multiply+floor over
    * exact integers — and the per-doc mean floors again, so every value
    * crossing the engine boundary is integer-exact (the t11 discipline;
    * the interim double sums are integer-valued and < 2^53, hence
    * order-independent). log-probability would pull in libm, which
    * differs across engines in the last ulp; the RANKING is the same
    * monotone family.
    *
    * Scale shape: pairs assemble with element_at in the explode's codegen
    * stage (no window sort, the shingleTable discipline); C2 is one hash
    * aggregate (map-side combined) and C1 folds FROM C2, never rescanning
    * the corpus. The scoring join shuffles (a,b) pairs against the count
    * tables — vocabulary² is unbounded in general so the shuffle-join
    * form is kept; AQE demotes it to broadcast whenever the realized
    * bigram table is small (as here).
    */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    val toked = Tables.documents(s, d)
      .select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) >= 2)
    val pairs = toked
      .withColumn("i", explode(sequence(lit(0), size(col("tk")) - 2)))
      .select(col("doc_id"),
        element_at(col("tk"), col("i") + 1).as("a"),
        element_at(col("tk"), col("i") + 2).as("b"))
    val c2 = pairs.groupBy("a", "b").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("a").agg(sum(col("c2")).as("c1"))
    pairs.join(c2, Seq("a", "b")).join(c1, Seq("a"))
      .withColumn("q", floor(col("c2").cast("double") / col("c1") * lit(1.0e9)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        floor(sum(col("q")).cast("double") / count(lit(1))).cast("long").as("lm_score"))
      .orderBy("doc_id")
  }

  val bigramLmSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      |           FROM documents),
      |d2 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 2),
      |p AS (SELECT doc_id, tk[i] AS a, tk[i+1] AS b
      |      FROM d2, unnest(range(1, len(tk))) AS r(i)),
      |c2 AS (SELECT a, b, count(*) AS c2 FROM p GROUP BY a, b),
      |c1 AS (SELECT a, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY a),
      |sc AS (SELECT doc_id, floor(CAST(c2 AS DOUBLE) / c1 * 1000000000.0) AS q
      |       FROM p JOIN c2 USING (a, b) JOIN c1 USING (a))
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(floor(sum(q) / count(*)) AS BIGINT) AS lm_score
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- BPE merge learning
  /** Number of byte-pair merges t16 learns. */
  val BPE_MERGES = 6

  /** Symbol separator for the t16 segmentation encoding — U+001F (unit
    * separator), below every printable character, so (a) corpus text never
    * contains it (filtered defensively anyway) and (b) concatenated pair
    * keys sort in the same order as (left, right) tuples.
    */
  private val SEP = "\u001F"

  /** t16: BPE merge learning (Sennrich et al. 2016) — learn the first
    * [[BPE_MERGES]] byte-pair merges of a subword tokenizer from the
    * corpus, returning the merge table (step, lhs, rhs, merged, pair
    * count). This is the TRAINING pass of every BPE/WordPiece-family
    * tokenizer; t01's `bpeishTokenCount` is the budget-estimation
    * approximation of its inference side.
    *
    * Scale design — the two ideas that make BPE training 100 TB-viable:
    *  1. Everything after one tokenize+count pass runs on the DISTINCT-WORD
    *     table (vocabulary-proportional, not corpus-proportional — the
    *     standard trainer trick). The vocab frame is localCheckpoint'ed
    *     once; each round adds only a narrow per-word string rewrite.
    *  2. Greedy leftmost merge application is a LITERAL STRING REPLACE on
    *     a separator-encoded segmentation: a word's state is
    *     `␟s1␟␟s2␟…␟sn␟` (each symbol ␟-wrapped), so the pair (a,b) is the
    *     substring `␟a␟␟b␟` — it can only match at true symbol boundaries
    *     (symbols never contain ␟), and replace's leftmost-non-overlapping
    *     scan IS greedy BPE order (for a≠b occurrences never overlap; for
    *     a=b it merges run pairs left to right exactly like the reference
    *     implementation). No per-row fold, no UDF, and the DuckDB oracle
    *     replays it with the same `replace`.
    *
    * Each round's argmax pair is one bounded driver scalar (orderBy+limit 1
    * = TakeOrderedAndProject); ties break on the pair key, whose
    * separator-concatenated form preserves (lhs, rhs) lexicographic order
    * because U+001F sorts below every corpus character.
    */
  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    val (merges, _) = bpeLearn(s, d)
    val spark = s
    import spark.implicits._
    merges.map { case (step, pair, total) =>
      val Array(l, r) = pair.split(SEP + SEP, 2)
      (step, l, r, l + r, total)
    }.toDF("step", "lhs", "rhs", "merged", "total")
      .orderBy("step")
  }

  /** The shared BPE training loop behind t16 (merge table) and t17
    * (corpus encoding): learns up to [[BPE_MERGES]] merges and returns
    * both the merge list and the FINAL segmented vocabulary
    * `(tok, state, c)` — the word-level encoder table. Carrying `tok`
    * through the rewrite rounds costs nothing (the rewrites touch only
    * `state`) and is what lets t17 encode the corpus with a vocab join
    * instead of re-running merges per document.
    */
  private def bpeLearn(s: SparkSession, d: String)
      : (Seq[(Long, String, Long)], DataFrame) =
    bpeLearnOn(Tables.documents(s, d))

  /** [[bpeLearn]] over an arbitrary (doc_id, text) frame — the injectable
    * face BpeSpec uses to drive the corpus-exhaustion early stop.
    */
  private[operators] def bpeLearnOn(docs: DataFrame)
      : (Seq[(Long, String, Long)], DataFrame) = {
    import java.util.regex.{Matcher, Pattern}
    val sep2 = SEP + SEP
    val toks = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 1 && !col("tok").contains(SEP))
    // vocabulary-proportional from here on; one corpus pass total
    var words = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .select(col("tok"), concat(lit(SEP),
        array_join(expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"), sep2),
        lit(SEP)).as("state"), col("c"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    var k = 1
    var exhausted = false
    while (k <= BPE_MERGES && !exhausted) {
      val sy = split(expr(s"trim(BOTH '$SEP' FROM state)"), sep2)
      val best = words
        .select(col("c"), sy.as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("c"), explode(expr(
          s"transform(sequence(1, size(sy) - 1), i -> concat(element_at(sy, i), '$SEP$SEP', element_at(sy, i + 1)))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).as("total"))
        .orderBy(col("total").desc, col("pair"))
        .limit(1).collect().headOption // bounded driver scalar: the argmax
      best match {
        case None =>
          // no word has ≥2 symbols left — the corpus ran dry before
          // BPE_MERGES rounds; stop (the oracle's empty b_k CTE omits the
          // same trailing steps, so both engines emit ≤ BPE_MERGES rows)
          exhausted = true
        case Some(row) =>
          val pair = row.getString(0)
          merges += ((k.toLong, pair, row.getLong(1)))
          val pattern = SEP + pair + SEP
          val replacement = SEP + pair.replace(sep2, "") + SEP
          words = words.withColumn("state",
            regexp_replace(col("state"),
              lit(Pattern.quote(pattern)), lit(Matcher.quoteReplacement(replacement))))
          k += 1
      }
    }
    (merges.toSeq, words)
  }

  /** t17: BPE ENCODING — the inference side of t16. Applies the learned
    * merge table to the corpus and reports, per document, the whitespace
    * token count and the resulting BPE token count (the number a training
    * pipeline budgets sequence packing and mixture sampling with; t01's
    * `bpeishTokenCount` is the closed-form approximation of exactly this
    * number).
    *
    * Scale design: encoding NEVER touches per-document text with the
    * merge rules — [[bpeLearn]]'s final vocabulary (already segmented
    * after all merges) IS the encoder, so the corpus-proportional work is
    * one tokenize+explode and one join on the word key (vocab-sized build
    * side; AQE broadcasts it at any realistic vocabulary), then a
    * per-document count/sum. The merge rewrites stay vocabulary-
    * proportional exactly as in training.
    */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val sep2 = SEP + SEP
    val (_, vocab) = bpeLearn(s, d)
    val enc = vocab.select(col("tok"),
      size(split(expr(s"trim(BOTH '$SEP' FROM state)"), sep2)).cast("long").as("n_sym"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 1 && !col("tok").contains(SEP))
      .join(enc, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** t21: tokenizer fertility by language — BPE symbols per whitespace
    * word (in exact ppm) and characters per BPE symbol, per language,
    * under the t16-learned merges. THE multilingual vocab-sizing
    * diagnostic: a vocabulary learned on a mixed corpus over-segments
    * the languages it under-represents (fertility climbs), which is what
    * decides per-language vocab budget and mixture weights before a
    * costly training run. Same plan as t17 (the learned vocabulary IS
    * the encoder, applied by one word-key join) with the rollup keyed by
    * lang instead of doc — corpus scan + one vocab join + a 5-row
    * aggregate; all ratios integer-exact.
    */
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val sep2 = SEP + SEP
    val (_, vocab) = bpeLearn(s, d)
    val enc = vocab.select(col("tok"),
      size(split(expr(s"trim(BOTH '$SEP' FROM state)"), sep2)).cast("long").as("n_sym"))
    Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 1 && !col("tok").contains(SEP))
      .join(enc, "tok")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_bpe"),
        sum(length(col("tok")).cast("long")).as("n_chars_tok"))
      .select(col("lang"), col("n_tokens"), col("n_bpe"), col("n_chars_tok"),
        expr("(n_bpe * 1000000) div n_tokens").as("fertility_ppm"),
        expr("(n_chars_tok * 1000000) div n_bpe").as("chars_per_sym_ppm"))
      .orderBy("lang")
  }

  /** t21 oracle: the t16 rounds + vocab join (the t17 mirror), rolled up
    * by language.
    */
  lazy val bpeFertilitySql: String = {
    val round = (prev: String, k: Int) =>
      s"""p$k AS (SELECT pair, CAST(sum(c) AS BIGINT) AS total FROM (
         |  SELECT c, unnest([sy[i] || '$SEP$SEP' || sy[i+1] FOR i IN range(1, len(sy))]) AS pair
         |  FROM (SELECT c, string_split(trim(state, '$SEP'), '$SEP$SEP') AS sy FROM $prev))
         |GROUP BY pair),
         |b$k AS (SELECT pair, total FROM p$k ORDER BY total DESC, pair LIMIT 1),
         |w$k AS (SELECT w.tok,
         |    CASE WHEN b.pair IS NULL THEN w.state
         |         ELSE replace(w.state, '$SEP' || b.pair || '$SEP',
         |           '$SEP' || replace(b.pair, '$SEP$SEP', '') || '$SEP') END AS state,
         |    w.c
         |  FROM $prev w LEFT JOIN b$k b ON TRUE)""".stripMargin
    val rounds = (1 to BPE_MERGES).map(k => round(s"w${k - 1}", k)).mkString(",\n")
    s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |           FROM documents),
       |w0 AS (SELECT tok, '$SEP' || array_to_string(
       |           [substr(tok, i, 1) FOR i IN range(1, len(tok) + 1)], '$SEP$SEP')
       |         || '$SEP' AS state, CAST(count(*) AS BIGINT) AS c
       |       FROM t WHERE len(tok) >= 1 AND tok NOT LIKE '%$SEP%'
       |       GROUP BY tok),
       |$rounds,
       |enc AS (SELECT tok,
       |    CAST(len(string_split(trim(state, '$SEP'), '$SEP$SEP')) AS BIGINT) AS n_sym
       |  FROM w$BPE_MERGES),
       |dt AS (SELECT lang,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_sym) AS BIGINT) AS n_bpe,
       |    CAST(sum(len(tok)) AS BIGINT) AS n_chars_tok
       |  FROM dt JOIN enc USING (tok)
       |  WHERE len(tok) >= 1 AND tok NOT LIKE '%$SEP%'
       |  GROUP BY lang)
       |SELECT lang, n_tokens, n_bpe, n_chars_tok,
       |  (n_bpe * 1000000) // n_tokens AS fertility_ppm,
       |  (n_chars_tok * 1000000) // n_bpe AS chars_per_sym_ppm
       |FROM agg ORDER BY lang""".stripMargin
  }

  /** t17 oracle: the t16 rounds carrying `tok`, then the vocab join. The
    * per-round rewrite uses LEFT JOIN ON TRUE + CASE (not CROSS JOIN) so
    * an exhausted corpus (empty argmax) passes states through unchanged —
    * the mirror of [[bpeLearn]]'s early stop.
    */
  val bpeEncodeSql: String = {
    val round = (prev: String, k: Int) =>
      s"""p$k AS (SELECT pair, CAST(sum(c) AS BIGINT) AS total FROM (
         |  SELECT c, unnest([sy[i] || '$SEP$SEP' || sy[i+1] FOR i IN range(1, len(sy))]) AS pair
         |  FROM (SELECT c, string_split(trim(state, '$SEP'), '$SEP$SEP') AS sy FROM $prev))
         |GROUP BY pair),
         |b$k AS (SELECT pair, total FROM p$k ORDER BY total DESC, pair LIMIT 1),
         |w$k AS (SELECT w.tok,
         |    CASE WHEN b.pair IS NULL THEN w.state
         |         ELSE replace(w.state, '$SEP' || b.pair || '$SEP',
         |           '$SEP' || replace(b.pair, '$SEP$SEP', '') || '$SEP') END AS state,
         |    w.c
         |  FROM $prev w LEFT JOIN b$k b ON TRUE)""".stripMargin
    val rounds = (1 to BPE_MERGES).map(k => round(s"w${k - 1}", k)).mkString(",\n")
    s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |           FROM documents),
       |w0 AS (SELECT tok, '$SEP' || array_to_string(
       |           [substr(tok, i, 1) FOR i IN range(1, len(tok) + 1)], '$SEP$SEP')
       |         || '$SEP' AS state, CAST(count(*) AS BIGINT) AS c
       |       FROM t WHERE len(tok) >= 1 AND tok NOT LIKE '%$SEP%'
       |       GROUP BY tok),
       |$rounds,
       |enc AS (SELECT tok,
       |    CAST(len(string_split(trim(state, '$SEP'), '$SEP$SEP')) AS BIGINT) AS n_sym
       |  FROM w$BPE_MERGES),
       |dt AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents)
       |SELECT doc_id, count(*) AS n_tokens, CAST(sum(n_sym) AS BIGINT) AS n_bpe
       |FROM dt JOIN enc USING (tok)
       |WHERE len(tok) >= 1 AND tok NOT LIKE '%$SEP%'
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** t16 oracle: the same rounds unrolled as CTEs — per round, pair counts
    * off the separator-encoded vocab, a 1-row argmax CTE, and the literal
    * `replace` rewrite cross-joined back onto the vocab.
    */
  val bpeMergesSql: String = {
    val round = (prev: String, k: Int) =>
      s"""p$k AS (SELECT pair, CAST(sum(c) AS BIGINT) AS total FROM (
         |  SELECT c, unnest([sy[i] || '$SEP$SEP' || sy[i+1] FOR i IN range(1, len(sy))]) AS pair
         |  FROM (SELECT c, string_split(trim(state, '$SEP'), '$SEP$SEP') AS sy FROM $prev))
         |GROUP BY pair),
         |b$k AS (SELECT pair, total FROM p$k ORDER BY total DESC, pair LIMIT 1),
         |w$k AS (SELECT replace(w.state, '$SEP' || b.pair || '$SEP',
         |    '$SEP' || replace(b.pair, '$SEP$SEP', '') || '$SEP') AS state, w.c
         |  FROM $prev w CROSS JOIN b$k b)""".stripMargin
    val rounds = (1 to BPE_MERGES).map(k => round(s"w${k - 1}", k)).mkString(",\n")
    val out = (1 to BPE_MERGES).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS step, split_part(pair, '$SEP$SEP', 1) AS lhs,
         |  split_part(pair, '$SEP$SEP', 2) AS rhs,
         |  replace(pair, '$SEP$SEP', '') AS merged, total FROM b$k""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |           FROM documents),
       |w0 AS (SELECT '$SEP' || array_to_string(
       |           [substr(tok, i, 1) FOR i IN range(1, len(tok) + 1)], '$SEP$SEP')
       |         || '$SEP' AS state, CAST(count(*) AS BIGINT) AS c
       |       FROM t WHERE len(tok) >= 1 AND tok NOT LIKE '%$SEP%'
       |       GROUP BY tok),
       |$rounds
       |$out
       |ORDER BY step""".stripMargin
  }

  // --------------------------------------------- vocabulary growth (t18)
  /** t18: TYPE GROWTH CURVE (Heaps' law) — new distinct 3-gram shingle
    * TYPES by the corpus decile of their first occurrence (doc_id as
    * ingestion order), cumulated. The diversity diagnostic a curator
    * reads before mixing: a healthy corpus keeps minting new types in
    * its last deciles; a flattening tail means the tail data repeats the
    * head — it adds tokens, not coverage. The unit is the shingle type,
    * not the unigram (a bounded word vocabulary saturates in the first
    * documents — Heaps exponent ~0 — exactly as this corpus's 31-word
    * vocabulary does; n-gram types are what keep growing).
    *
    * Scale shape: the d03-family hashed shingle explode (types travel as
    * 8-byte longs, never strings; hash collisions are mirrored by the
    * oracle's identical md5-prefix family so grouping agrees even when
    * they happen), one type-keyed min-aggregate (map-side partial min —
    * the exchange carries one row per type per map task, not per
    * occurrence), then a 10-row decile rollup; the cumulative window
    * sorts 10 rows. The decile is exact int64 arithmetic with the
    * division FIRST (`first_id div (max_id div 10 + 1)`) so arbitrary
    * ids cannot overflow — the sequencePacking discipline.
    */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // distinct=false: min(doc_id) is idempotent under duplicate
    // (doc, shingle) rows, so the dedup shuffle would be pure waste
    val sh = Dedup.shingleTable(Tables.documents(s, d).select("doc_id", "text"),
      distinct = false, hashed = true)
    // max over documents, NOT over sh: the value is identical (every doc
    // emits >=1 shingle row), but bounding off the explode would execute
    // the corpus-proportional tokenize+explode+hash pipeline twice
    val bound = Tables.documents(s, d).agg(max(col("doc_id")).as("max_id"))
    sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_id"))
      .crossJoin(broadcast(bound))
      .select(expr("first_id div (max_id div 10 + 1) + 1").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
      .withColumn("cum_types", sum(col("new_types"))
        .over(W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)))
      .orderBy("decile")
  }

  /** t18 oracle: the d03-family shingle + hash mirror, then identical
    * first-occurrence decile arithmetic.
    */
  val vocabGrowthSql: String =
    """WITH t AS (SELECT doc_id,
      |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id,
      |    CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
      |  FROM (SELECT doc_id,
      |          unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |                 ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                       FOR i IN range(1, len(toks)-1)] END) AS sh0
      |        FROM t)),
      |f AS (SELECT sh, min(doc_id) AS first_id FROM g GROUP BY sh),
      |m AS (SELECT max(doc_id) AS max_id FROM g),
      |h AS (SELECT first_id // (max_id // 10 + 1) + 1 AS decile,
      |        count(*) AS new_types
      |      FROM f, m GROUP BY 1)
      |SELECT decile, new_types,
      |  CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT) AS cum_types
      |FROM h ORDER BY decile""".stripMargin

  // ------------------------------------------------------ BM25 retrieval
  /** Fixed literal retrieval queries for t19 — word bigrams, because the
    * synthetic corpus draws from a ~31-word vocabulary whose unigram df is
    * flat (~80% of docs contain every word ⇒ idf ≈ 0 for all of them);
    * bigram df spans 1..~8% of the corpus, so the idf term actually ranks.
    * Mixed-df terms per query make the idf weighting visible in the top-k.
    */
  val BM25_QUERIES: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark customer", "query merge"),
    2 -> Seq("line query", "stream stream", "join row"),
    3 -> Seq("filter order", "merge key"))
  private val BM25_SCALE = 1024.0 // tf-saturation quantization grid
  private val BM25_TOPK  = 5
  private val BM25_SALT  = 64     // first-level top-k fan-in

  /** t19: BM25 top-k retrieval — the ranked-search face of the inverted
    * index (Robertson/Spärck Jones probabilistic relevance; the default
    * scorer in Lucene/Elasticsearch and the standard first-stage retriever
    * in RAG pipelines). Deterministic re-expression of BM25(k1=1.25,
    * b=0.75):
    *
    *  - tf saturation: tf·(k1+1) / (tf + k1·(1−b+b·len/avg)) with k1=5/4,
    *    b=3/4 and avg quantized to floor(Σlen/N) clears to the integer
    *    rational 36·avg·tf / (16·avg·tf + 5·avg + 15·len); it is quantized
    *    with ONE IEEE multiply+divide (floor(1024·num/den), identical op
    *    order in DuckDB) — no float accumulation anywhere.
    *  - idf: floor(log2(N div df)) computed EXACTLY as length(bin(ratio))−1
    *    (a string length, not libm log — both engines agree bit-for-bit).
    *    The log base only scales scores; ranking is the same monotone order
    *    as ln-idf on the power-of-two grid.
    *
    * Scale shape: the literal IN-list probe kills every non-query bigram
    * BEFORE the first exchange (the inverted-index posting-list read — the
    * shuffle carries df-bounded (doc_id, term) pairs, never text); doc
    * lengths are a thin two-column projection; df/idf frames are term-count
    * sized and broadcast. Top-k is two-level (per-salt top-k, then global
    * over ≤ SALT·k·|queries| survivors) so no single partition ever sees
    * more than a salt-shard of one query's posting union.
    */
  def bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25Cut(bm25Scores(s, d)).orderBy("query_id", "rank")

  /** Salted two-level top-k over a (query_id, doc_id, score) frame (no
    * global sort: callers that hash-compare add their own terminal
    * orderBy).
    */
  private[graft] def bm25Cut(scored: DataFrame, k: Int = BM25_TOPK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy(col("query_id"), pmod(col("doc_id"), lit(BM25_SALT)))
      .orderBy(col("score").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score"))
  }

  /** Word-bigram postings (term, doc_id, tf, dl) for every doc with ≥ 2
    * tokens; `onlyTerms` applies the literal posting-list probe BEFORE the
    * aggregation exchange (the t19 shape).
    */
  private[graft] def bigramPostings(docs: DataFrame,
      onlyTerms: Seq[String]): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .withColumn("dl", (size(col("tk")) - 1).cast("long"))
    val grams = t
      .withColumn("i", explode(sequence(lit(1), size(col("tk")) - 1)))
      .select(col("doc_id"), col("dl"), concat_ws(" ",
        element_at(col("tk"), col("i")),
        element_at(col("tk"), col("i") + 1)).as("term"))
    grams.filter(col("term").isin(onlyTerms: _*))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** The deterministic BM25 arithmetic over a postings frame: df from the
    * postings themselves, integer-log2 idf, quantized tf saturation, summed
    * per (query, doc). `consts` is one broadcastable row (n_docs, avg_dl).
    */
  private[graft] def bm25ScorePostings(postings: DataFrame, consts: DataFrame,
      qterms: DataFrame): DataFrame = {
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings
      .crossJoin(broadcast(consts))
      .join(broadcast(dfreq), "term")
      .withColumn("idf", (length(bin(expr("n_docs div df"))) - 1).cast("long"))
      .withColumn("wtf", floor(
        lit(BM25_SCALE) * (lit(36L) * col("avg_dl") * col("tf")).cast("double") /
          (lit(16L) * col("avg_dl") * col("tf") + lit(5L) * col("avg_dl") +
            lit(15L) * col("dl")).cast("double")).cast("long"))
      .join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("idf") * col("wtf")).as("score"))
  }

  /** The literal (query_id, term) frame for the registered t19 queries. */
  private[graft] def bm25QueryFrame(s: SparkSession): DataFrame =
    s.createDataFrame(
      BM25_QUERIES.flatMap { case (q, ts) => ts.map(t => (q, t)) })
      .toDF("query_id", "term")

  /** Full (query_id, doc_id, score) frame before the top-k cut — shared by
    * the registered key and the salted-vs-direct equivalence spec.
    */
  private[operators] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // corpus consts (n_docs + quantized avg length) in ONE broadcast row,
    // off a thin two-column projection. Doc length rides the explode inside
    // bigramPostings (functionally dependent on doc_id), so tf needs NO
    // join back to a corpus-sized length frame — at 100 TB that join's
    // build side is whichever side AQE guesses smaller; carrying 8 bytes
    // through the probe filter removes the guess. (The df branch inside
    // bm25ScorePostings re-executes the pruned posting probe — Catalyst
    // won't reuse an exchange across different prunings — which costs one
    // extra corpus pass.)
    val consts = docs
      .select(col("doc_id"), (size(tokens(col("text"))) - 1).cast("long").as("dl"))
      .filter(col("dl") >= 1)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        expr("greatest(sum_dl div n_docs, CAST(1 AS BIGINT))").as("avg_dl"))
    val postings = bigramPostings(docs, BM25_QUERIES.flatMap(_._2).distinct)
    bm25ScorePostings(postings, consts, bm25QueryFrame(s))
  }

  /** t19 oracle: same arithmetic, single-level top-k (identical result —
    * each global top-k row is its salt-group's top-k row by definition).
    */
  val bm25TopKSql: String = {
    val termValues = BM25_QUERIES
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    s"""WITH qt(query_id, term) AS (VALUES $termValues),
      |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
      |      FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
      |lens AS (SELECT doc_id, CAST(len(a) - 1 AS BIGINT) AS dl FROM t),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens),
      |g AS (SELECT doc_id, term FROM (
      |        SELECT doc_id, unnest([a[i] || ' ' || a[i+1] FOR i IN range(1, len(a))]) AS term
      |        FROM t)
      |      WHERE term IN (SELECT term FROM qt)),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM g GROUP BY doc_id, term),
      |idf AS (SELECT term, CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf
      |        FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), stats),
      |avgq AS (SELECT greatest(sum_dl // n_docs, 1) AS avg_dl FROM stats),
      |sc AS (SELECT query_id, tf.doc_id,
      |         CAST(sum(idf * CAST(floor(${BM25_SCALE} * CAST(36 * avg_dl * tf AS DOUBLE)
      |           / CAST(16 * avg_dl * tf + 5 * avg_dl + 15 * dl AS DOUBLE)) AS BIGINT)) AS BIGINT) AS score
      |       FROM tf JOIN lens ON lens.doc_id = tf.doc_id
      |            JOIN idf USING (term) JOIN qt USING (term), avgq
      |       GROUP BY query_id, tf.doc_id)
      |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank FROM sc)
      |WHERE rank <= $BM25_TOPK ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------- CCNet perplexity buckets
  /** Additive-smoothing mass for unseen reference bigrams (a fixed
    * vocabulary prior, so scoring needs no third derivation of the
    * reference count table the way a Laplace-|V| denominator would).
    */
  val PPL_SMOOTH = 4096L
  /** Score-bin width for the sliced rank: lm scores live in [0, 1e9], so
    * `score div PPL_BIN_W` is a ≤240-value arithmetic bin domain.
    */
  val PPL_BIN_W = 4194304L

  /** t22: CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359) — the quality split CCNet/LLaMA curation rests on:
    * train a reference LM on the target domain (there: Wikipedia; here:
    * the `lang = 'en'` slice), score EVERY document, and split the corpus
    * into head/middle/tail terciles by score. t15 scores docs under a
    * whole-corpus LM; t22's LM is trained on the reference slice only and
    * smoothed (add-one over a [[PPL_SMOOTH]] prior) so out-of-domain
    * bigrams score low instead of crashing into 0/0.
    *
    * Determinism: counts are exact int64; each bigram's quantized
    * probability is ONE IEEE divide+multiply+floor (the t15 discipline),
    * and the tercile cuts are integer comparisons (3·rank ≤ tot) — no
    * libm anywhere.
    *
    * Scale shape: the reference counts are one hash aggregate over the
    * en-slice pairs; scoring is the same shuffle join t15 keeps (AQE
    * demotes to broadcast while the realized bigram table is small); the
    * tercile RANK is the [[SlicedPrefix]] rank over the [[PPL_BIN_W]]
    * score bins ([[slicedRanks]]), never an unpartitioned corpus window.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toked = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) >= 2)
    val pairs = toked
      .withColumn("i", explode(sequence(lit(0), size(col("tk")) - 2)))
      .select(col("doc_id"), col("lang"),
        element_at(col("tk"), col("i") + 1).as("a"),
        element_at(col("tk"), col("i") + 2).as("b"))
    // c2 is deliberately NOT checkpointed, measured twice: the three
    // derivations (c1 fold, scoring build sides) each re-run the
    // en-slice explode, but a partial aggregate collapses it map-side
    // into the realized vocabulary² rows, and while THAT is small the
    // re-derivation is nearly free — materializing the model measured a
    // tie at 10× and 23% SLOWER at the 100× corpus (9.6 vs 7.4 s;
    // identical result for t15). Revisit only if the realized bigram
    // table itself becomes corpus-scale (open-vocabulary web text).
    val c2 = pairs.filter(col("lang") === "en")
      .groupBy("a", "b").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("a").agg(sum(col("c2")).as("c1"))
    val doc = pairs
      .join(c2, Seq("a", "b"), "left")
      .join(c1, Seq("a"), "left")
      .withColumn("q", floor(
        (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + lit(PPL_SMOOTH)) * lit(1.0e9)))
      .groupBy("doc_id")
      .agg(floor(sum(col("q")).cast("double") / count(lit(1))).cast("long")
        .as("lm_score"))
    // sliced global rank, descending (higher score = more in-domain)
    slicedRanks(doc)
      .select(col("doc_id"), col("lm_score"),
        when(lit(3L) * col("rnk") <= col("tot"), "head")
          .when(lit(3L) * col("rnk") <= lit(2L) * col("tot"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Population above which a score bin abandons its single per-bin rank
    * window for the decomposed path of [[SlicedPrefix.byScore]]. Sized so
    * a task ranking one cold bin sorts at most this many thin rows; no
    * corpus at the test SFs comes near it — the threshold exists for the
    * pathological skew case (e.g. a default score shared by a large
    * corpus fraction).
    */
  val HOT_BIN_THRESHOLD = 2000000L

  /** Exact sliced global rank of a (doc_id, lm_score) frame under the
    * order (lm_score DESC, doc_id ASC), with the total row count: the
    * [[SlicedPrefix.byScore]] kernel over `lm_score div PPL_BIN_W` bins,
    * ≤240 of them over the quantized score range, so the bin frame is
    * bounded. Bins past `hotThreshold` take the kernel's hot-bin split.
    *
    * The input is checkpointed as the thin (doc_id, lm_score, bin)
    * projection — 3 longs/row, ~10^10 rows ≈ 240 GB across a 1000-node
    * fleet at the 100 TB corpus, MEMORY_AND_DISK so overflow spills —
    * because every face consumes it: the bin census and the rank join
    * probe. Without it the plan derives the EXPENSIVE upstream scoring
    * twice (no shared exchange, so Catalyst cannot reuse it) — which is
    * what t22 paid in every round up to 13.
    */
  private[graft] def slicedRanks(doc: DataFrame,
      hotThreshold: Long = HOT_BIN_THRESHOLD): DataFrame =
    SlicedPrefix.byScore(
        doc.withColumn("_ppl_bin", expr(s"lm_score div $PPL_BIN_W"))
          .localCheckpoint(true),
        Seq("_ppl_bin"), "rnk", desc = true,
        SlicedPrefix.HotSplit("lm_score", "doc_id", PPL_BIN_W, hotThreshold),
        total = Some("tot"))
      .select(col("doc_id"), col("lm_score"), col("rnk"), col("tot"))

  val ccnetBucketsSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |             regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |           FROM documents),
       |d2 AS (SELECT doc_id, lang, tk FROM t WHERE len(tk) >= 2),
       |p AS MATERIALIZED (SELECT doc_id, lang, tk[i] AS a, tk[i+1] AS b
       |      FROM d2, unnest(range(1, len(tk))) AS r(i)),
       |c2 AS MATERIALIZED (SELECT a, b, count(*) AS c2 FROM p WHERE lang = 'en' GROUP BY a, b),
       |c1 AS (SELECT a, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY a),
       |sc AS (SELECT p.doc_id,
       |         floor(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
       |           (coalesce(c1.c1, 0) + $PPL_SMOOTH) * 1000000000.0) AS q
       |       FROM p LEFT JOIN c2 USING (a, b) LEFT JOIN c1 USING (a)),
       |doc AS (SELECT doc_id,
       |          CAST(floor(sum(q) / count(*)) AS BIGINT) AS lm_score
       |        FROM sc GROUP BY doc_id),
       |r AS (SELECT doc_id, lm_score,
       |        row_number() OVER (ORDER BY lm_score DESC, doc_id) AS rnk,
       |        count(*) OVER () AS tot
       |      FROM doc)
       |SELECT doc_id, lm_score,
       |  CASE WHEN 3 * rnk <= tot THEN 'head'
       |       WHEN 3 * rnk <= 2 * tot THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- n-gram novelty
  /** Shingle width for the novelty profile (5-grams: long enough that
    * re-use means repetition, not common phrasing).
    */
  val NOVELTY_N = 5

  /** t23: n-gram novelty profile — per document, how many of its distinct
    * [[NOVELTY_N]]-gram shingles appear here FIRST (in doc_id order) vs
    * recycled from earlier documents. The corpus-level diversity /
    * memorization measure behind "how much of this crawl snapshot is new
    * text": a document full of previously-seen 5-grams is boilerplate or
    * near-dup residue; the novelty_ppm column is the exact per-doc
    * fraction in parts-per-million (integer div — no IEEE at all).
    *
    * Scale shape: shingles fold to 60-bit hashes inside the explode's
    * codegen stage ([[Dedup.shingleTable]] hashed=true — exchanges carry
    * longs, never shingle strings); first-occurrence attribution is
    * min(doc_id) per shingle — one map-side-combined hash aggregate, NO
    * join back to shingle instances (novel counts come from the
    * first-occurrence frame itself); the final per-doc join is
    * doc-cardinality vs doc-cardinality. The distinct (doc_id, sh)
    * exchange is shared by the total and first-seen branches via exchange
    * reuse.
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNoveltyOf(Tables.documents(s, d))

  /** t23 over any (doc_id, text) frame (spec-injectable face). */
  private[graft] def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    // TWO scan+explode passes by measurement, not accident: Catalyst
    // fuses the distinct into each branch's first aggregate (partial
    // min-per-shingle on the novelty branch, partial distinct on the
    // totals branch), so each branch is explode → one fused partial →
    // one exchange. Materializing the distinct posting table once
    // (localCheckpoint) to share it was tried and measured 2.6× SLOWER
    // at the 10× corpus (3.4 s vs 1.3 s): it adds a third full-table exchange
    // (the explicit distinct) and un-fuses both branches' partials —
    // the t20 lesson again, a second column-pruned scan beats a second
    // corpus-scale shuffle.
    val sh = Dedup.shingleTable(docs,
      n = NOVELTY_N, hashed = true) // distinct (doc_id, sh60)
    val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy("sh").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    tot.join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty_ppm", expr("(1000000 * n_novel) div n_shingles"))
      .select("doc_id", "n_shingles", "n_novel", "novelty_ppm")
      .orderBy("doc_id")
  }

  val ngramNoveltySql: String =
    s"""WITH t AS (SELECT doc_id,
       |             regexp_split_to_array(trim(text), '\\s+') AS toks
       |           FROM documents),
       |g AS MATERIALIZED (SELECT DISTINCT doc_id,
       |        CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
       |      FROM (SELECT doc_id,
       |              unnest(CASE WHEN len(toks) < $NOVELTY_N
       |                          THEN [array_to_string(toks, ' ')]
       |                          ELSE [toks[i] || ' ' || toks[i+1] || ' ' ||
       |                                toks[i+2] || ' ' || toks[i+3] || ' ' ||
       |                                toks[i+4]
       |                                FOR i IN range(1, len(toks) - ${NOVELTY_N - 2})]
       |                     END) AS sh0
       |            FROM t)),
       |tot AS (SELECT doc_id, count(*) AS n_shingles FROM g GROUP BY doc_id),
       |fst AS (SELECT sh, min(doc_id) AS doc_id FROM g GROUP BY sh),
       |nov AS (SELECT doc_id, count(*) AS n_novel FROM fst GROUP BY doc_id)
       |SELECT tot.doc_id, tot.n_shingles,
       |  coalesce(nov.n_novel, 0) AS n_novel,
       |  (1000000 * coalesce(nov.n_novel, 0)) // tot.n_shingles AS novelty_ppm
       |FROM tot LEFT JOIN nov ON nov.doc_id = tot.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  // --------------------------------------------------------- readability
  /** t24: FORCAST readability grading per language. The corpus carries no
    * sentence punctuation (verified: zero [.!?] at every SF), which rules
    * out Flesch/Kincaid — FORCAST is the standard formula designed for
    * exactly that case (technical/fragmentary text): grade = 20 −
    * (monosyllabic words per 150 words)/10. Syllables are proxied by
    * vowel groups ([aeiouy]+), the usual regex approximation; a word is
    * monosyllabic iff it contains exactly one group. The grade is kept in
    * exact integer centigrades — 2000 − (1500·mono) div words — so every
    * value hash-matches the oracle with zero float accumulation, then
    * docs are histogrammed per (lang, integer grade).
    *
    * The monosyllable count is ONE whole-text regexp pass, not a per-word
    * explode: normalize to single-space lowercase words, double the
    * delimiters (so adjacent matches cannot compete for the shared space
    * — RE2 on the oracle side has no lookahead), and count
    * ` cons*[aeiouy]+cons* `. Scale shape: a narrow projection off the
    * documents scan into a ≤|langs|×16-row hash aggregate; map-side
    * partials, nothing else shuffles.
    */
  def readability(s: SparkSession, d: String): DataFrame =
    readabilityOf(Tables.documents(s, d))

  /** t24 over any documents-shaped frame (spec-injectable face). */
  private[graft] def readabilityOf(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), lit("[^a-z]+"), lit(" ")))
    val spaced = concat(lit(" "), regexp_replace(norm, lit(" "), lit("  ")), lit(" "))
    val monoRe = " [b-df-hj-np-tv-xz]*[aeiouy]+[b-df-hj-np-tv-xz]* "
    docs
      .select(col("lang"),
        regexp_count(norm, lit("[a-z]+")).cast("long").as("n_words"),
        regexp_count(norm, lit("[aeiouy]+")).cast("long").as("n_vgroups"),
        regexp_count(spaced, lit(monoRe)).cast("long").as("n_mono"))
      .filter(col("n_words") >= 1)
      .withColumn("grade_centi", lit(2000L) - expr("(1500 * n_mono) div n_words"))
      .groupBy(col("lang"), expr("grade_centi div 100").as("grade"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_mono")).as("mono_words"),
        sum(col("n_words")).as("words"),
        sum(col("n_vgroups")).as("vowel_groups"))
      .orderBy("lang", "grade")
  }

  /** DuckDB oracle: identical normalization, delimiter-doubling and
    * integer grade arithmetic (regexp_replace needs the 'g' flag — DuckDB
    * replaces only the first match by default).
    */
  val readabilitySql: String =
    """WITH n AS (SELECT lang,
      |    trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS norm
      |  FROM documents),
      |m AS (SELECT lang,
      |    len(regexp_extract_all(norm, '[a-z]+')) AS n_words,
      |    len(regexp_extract_all(norm, '[aeiouy]+')) AS n_vgroups,
      |    len(regexp_extract_all(' ' || regexp_replace(norm, ' ', '  ', 'g') || ' ',
      |        ' [b-df-hj-np-tv-xz]*[aeiouy]+[b-df-hj-np-tv-xz]* ')) AS n_mono
      |  FROM n),
      |g AS (SELECT lang, 2000 - (1500 * n_mono) // n_words AS grade_centi,
      |        n_mono, n_words, n_vgroups
      |      FROM m WHERE n_words >= 1)
      |SELECT lang, CAST(grade_centi // 100 AS BIGINT) AS grade,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_mono) AS BIGINT) AS mono_words,
      |  CAST(sum(n_words) AS BIGINT) AS words,
      |  CAST(sum(n_vgroups) AS BIGINT) AS vowel_groups
      |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- trained NB lang classifier
  /** Hashed-feature vocabulary size for [[nbLangid]]. */
  val NB_BUCKETS = 1024L

  /** t25: trained Naive Bayes language classifier with held-out
    * evaluation — the LEARNED-model counterpart to t02's fixed-rule
    * heuristic, and the in-engine face of the fastText-style classifiers
    * production pipelines train for quality/language filtering (CCNet,
    * GPT-3 quality filter). Train on a deterministic 3/4 content-hash
    * split, score the held-out 1/4, emit the confusion matrix.
    *
    * Model: multinomial NB over [[NB_BUCKETS]] hashed unigram buckets.
    * Log-probabilities would pull in libm (engine-divergent in the last
    * ulp — the t15 lesson), so each smoothed probability is quantized
    * p→q = max(1, floor(10^6·(c+1)/(tot_l+B))) with ONE IEEE
    * multiply+divide+floor (the p13 discipline), then the log is taken
    * EXACTLY in integers at 1/3-bit granularity: w = length(bin(q³))−1 =
    * floor(3·log2 q) (q ≤ 10^6 so q³ ≤ 10^18 — no overflow; bin() is a
    * string length both engines compute bit-for-bit, the t19 idf trick).
    * The 10^6 scale shifts every token's log by the same constant across
    * classes, so the argmax is the true NB argmax at quantization
    * precision. Unseen (bucket, lang) pairs score the lang's smoothed
    * zero-count weight via default·(n_tok − n_seen) — the dense grid is
    * test-docs × |langs|, never test-docs × buckets.
    *
    * THIS corpus's text is label-independent by construction (token
    * ratios are uniform across langs), so the measured held-out accuracy
    * ≈ the majority-class prior — that IS the correct answer here, and
    * the spec proves the same code learns a separable planted corpus.
    *
    * Scale shape: two token-explode passes (train counts onto ≤ B·|langs|
    * keys, test counts onto (doc, bucket) — both collapse map-side); the
    * weight table (≤ B·|langs| rows) and the |langs|-row model frame are
    * BROADCAST; scoring is one aggregate over (doc, lang) and a
    * per-doc argmax window (|langs|-bounded partitions); the confusion
    * matrix is a ≤|langs|²-row aggregate. Nothing quadratic in corpus.
    */
  def nbLangid(s: SparkSession, d: String): DataFrame =
    nbLangidOf(Tables.documents(s, d))

  /** t25 over any documents-shaped frame (spec-injectable face). */
  private[graft] def nbLangidOf(docsRaw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsRaw.select(col("doc_id"), col("lang"), col("text"),
      (graft.operators.Dedup.baseHash(col("text")) % 4 === 0).as("is_test"))
    def toks(f: DataFrame): DataFrame = f.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("tok"))
      .withColumn("b", graft.operators.Dedup.baseHash(col("tok")) % NB_BUCKETS)
    // exact integer 3*floor-log2 of the quantized probability (see doc)
    def llog3(q: Column): Column =
      (length(bin(q * q * q)) - 1).cast("long")
    def quant(num: Column, den: Column): Column =
      greatest(lit(1L), floor(lit(1000000.0) * num / den).cast("long"))

    // ---- train: per-(lang,bucket) counts -> quantized-log weight table
    val c = toks(docs.filter(!col("is_test"))).groupBy("lang", "b")
      .agg(count(lit(1)).as("c"))
    val tl = c.groupBy("lang").agg(sum(col("c")).as("tot"))
    val w = c.join(broadcast(tl), "lang")
      .select(col("lang"), col("b"),
        llog3(quant(col("c") + lit(1L), col("tot") + lit(NB_BUCKETS))).as("w"))
    // per-lang model row: prior weight + unseen-bucket default weight
    val pr = docs.filter(!col("is_test")).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val prTot = pr.agg(sum(col("n_docs")).as("p_tot"),
      count(lit(1)).as("n_langs"))
    val model = pr.crossJoin(broadcast(prTot))
      .join(tl, "lang")
      .select(col("lang"),
        llog3(quant(col("n_docs") + lit(1L), col("p_tot") + col("n_langs")))
          .as("prior_w"),
        llog3(quant(lit(1L), col("tot") + lit(NB_BUCKETS))).as("default_w"))

    // ---- test: bucket counts, seen-mass per (doc, lang), dense grid
    val tb = toks(docs.filter(col("is_test"))).groupBy("doc_id", "b")
      .agg(count(lit(1)).as("cnt"))
    val dn = tb.groupBy("doc_id").agg(sum(col("cnt")).as("n_tok"))
    val seen = tb.join(broadcast(w), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt") * col("w")).as("s_seen"),
        sum(col("cnt")).as("n_seen"))
    val grid = docs.filter(col("is_test"))
      .select(col("doc_id"), col("lang").as("true_lang"))
      .join(dn, "doc_id")
      .crossJoin(broadcast(model))
      .join(seen, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (col("prior_w") + coalesce(col("s_seen"), lit(0L)) +
          col("default_w") * (col("n_tok") - coalesce(col("n_seen"), lit(0L))))
          .as("score"))
    grid.withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("lang"))))
      .filter(col("r") === 1)
      .groupBy(col("true_lang"), col("lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("true_lang", "pred_lang")
  }

  /** t25 oracle: identical split, hashing, smoothing, quantized-log and
    * argmax tie-break arithmetic (length/bin are BIGINT-exact both
    * engines; DuckDB length() is BIGINT vs Spark INT — cast is on the
    * Spark side).
    */
  val nbLangidSql: String =
    s"""WITH d AS (SELECT doc_id, lang, text,
       |    CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT) % 4 = 0 AS is_test
       |  FROM documents),
       |t AS (SELECT doc_id, lang, is_test,
       |    CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT) % $NB_BUCKETS AS b
       |  FROM (SELECT doc_id, lang, is_test,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM d)),
       |c AS (SELECT lang, b, count(*) AS c FROM t WHERE NOT is_test GROUP BY 1, 2),
       |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY 1),
       |w AS (SELECT lang, b, length(bin(q*q*q)) - 1 AS w FROM (
       |    SELECT c.lang, c.b,
       |      greatest(1, CAST(floor(1000000.0 * (c.c + 1) / (tl.tot + $NB_BUCKETS)) AS BIGINT)) AS q
       |    FROM c JOIN tl ON tl.lang = c.lang)),
       |pr AS (SELECT lang, count(*) AS n_docs FROM d WHERE NOT is_test GROUP BY 1),
       |prt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS p_tot, count(*) AS n_langs FROM pr),
       |model AS (SELECT pr.lang,
       |    length(bin(pq*pq*pq)) - 1 AS prior_w,
       |    length(bin(dq*dq*dq)) - 1 AS default_w
       |  FROM (SELECT pr.lang,
       |      greatest(1, CAST(floor(1000000.0 * (pr.n_docs + 1) / (prt.p_tot + prt.n_langs)) AS BIGINT)) AS pq,
       |      greatest(1, CAST(floor(1000000.0 * 1 / (tl.tot + $NB_BUCKETS)) AS BIGINT)) AS dq
       |    FROM pr CROSS JOIN prt JOIN tl ON tl.lang = pr.lang) pr),
       |tb AS (SELECT doc_id, b, count(*) AS cnt FROM t WHERE is_test GROUP BY 1, 2),
       |dn AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok FROM tb GROUP BY 1),
       |seen AS (SELECT tb.doc_id, w.lang,
       |    CAST(sum(tb.cnt * w.w) AS BIGINT) AS s_seen,
       |    CAST(sum(tb.cnt) AS BIGINT) AS n_seen
       |  FROM tb JOIN w ON w.b = tb.b GROUP BY 1, 2),
       |grid AS (SELECT td.doc_id, td.lang AS true_lang, m.lang,
       |    m.prior_w + coalesce(seen.s_seen, 0)
       |      + m.default_w * (dn.n_tok - coalesce(seen.n_seen, 0)) AS score
       |  FROM (SELECT doc_id, lang FROM d WHERE is_test) td
       |  JOIN dn ON dn.doc_id = td.doc_id
       |  CROSS JOIN model m
       |  LEFT JOIN seen ON seen.doc_id = td.doc_id AND seen.lang = m.lang),
       |pred AS (SELECT true_lang, lang AS pred_lang FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score DESC, lang) AS r FROM grid) WHERE r = 1)
       |SELECT true_lang, pred_lang, count(*) AS n_docs
       |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------- t29 weak-label distillation
  /** t29: weak-supervision distillation — the step after t28 in a real
    * Snorkel-style pipeline: train a generalizing classifier on the
    * PROGRAMMATIC labels so inference no longer needs the labeling
    * functions (fastText-style quality classifiers are trained exactly
    * this way from rule/heuristic labels). The t28 vote produces the
    * training signal (abstains excluded — they carry no label); the
    * LEARNED model is t25's multinomial NB over hashed unigram buckets,
    * reused verbatim with label in place of lang (same content-hash 3/4
    * train split, same exact-integer quantized-log scoring); the output
    * is the held-out confusion matrix between the weak label and the NB
    * prediction — the agreement evidence that tells a pipeline owner
    * whether the rules distilled into something a bag-of-words model can
    * reproduce (high agreement) or remain feature-orthogonal (low).
    *
    * Scale shape: one weak-vote projection (t28's narrow scan) feeding
    * t25's shape — two token-explode passes collapsing map-side,
    * broadcast weight/model tables, one (doc, label) scoring aggregate.
    */
  def nbQuality(s: SparkSession, d: String): DataFrame =
    nbQualityOf(Tables.documents(s, d))

  /** t29 over any documents-shaped frame (spec-injectable face).
    *
    * The labeled frame is eagerly checkpointed: the t25 NB chain scans
    * its input FOUR times (train counts, priors, test counts, grid) —
    * cheap when the input is a parquet scan (t25 itself), but here the
    * input is the weak-vote projection, whose per-row cost is two full-
    * text regexes + tokenize + array_distinct + a stopword filter, and
    * the four consumers share no exchange, so without materialization
    * each one re-derives it end to end (profiled at sf0.1: two of the
    * four duplicate subtrees carried 4.4 s and 6.4 s of aggregate-input
    * time — the vote projection dominated the key). One derivation +
    * four cached reads; at corpus scale the trade is one labeled-corpus
    * materialization against three extra full-text scans with the
    * heaviest per-row expressions in the text family.
    *
    * Eager-checkpoint caveat: CONSTRUCTING this DataFrame (e.g. a plan
    * dump / explain pass) already runs one Spark job materializing the
    * weak-vote projection — accepted for the measured 1.28× win; plan
    * tooling on t29 pays one materialization.
    */
  private[graft] def nbQualityOf(docs: DataFrame): DataFrame =
    nbLangidOf(weakLabelRows(docs).filter(col("label") =!= "abstain")
        .select(col("doc_id"), col("label").as("lang"), col("text"))
        .localCheckpoint(true))
      .select(col("true_lang").as("true_label"),
        col("pred_lang").as("pred_label"), col("n_docs"))
      .orderBy("true_label", "pred_label")

  /** t29 oracle: the t28 per-doc vote CTEs produce the label frame, then
    * the t25 NB chain runs on it verbatim (label in the lang slot).
    */
  val nbQualitySql: String =
    s"""WITH wb AS (SELECT doc_id, text, n_chars,
       |    regexp_split_to_array(trim(text), '\\s+') AS tk,
       |    CASE WHEN len(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n,
       |    len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS sym
       |  FROM documents),
       |wv AS (SELECT doc_id, text,
       |    (CASE WHEN n_chars < 120 THEN -1 WHEN n_chars > 600 THEN 1 ELSE 0 END)
       |    + (CASE WHEN sym * 10 >= n_chars THEN -1
       |            WHEN sym * 50 <= n_chars THEN 1 ELSE 0 END)
       |    + (CASE WHEN n = 0 THEN 0
       |            WHEN len([x FOR x IN tk IF lower(x) IN ('the','a','and','of','to','is','in')]) * 1000000 >= n * 40000 THEN 1
       |            WHEN len([x FOR x IN tk IF lower(x) IN ('the','a','and','of','to','is','in')]) = 0 THEN -1
       |            ELSE 0 END)
       |    + (CASE WHEN n = 0 THEN 0
       |            WHEN len(list_distinct(tk)) * 2 < n THEN -1
       |            WHEN len(list_distinct(tk)) * 5 > n * 4 THEN 1
       |            ELSE 0 END) AS score
       |  FROM wb),
       |lab AS (SELECT doc_id,
       |    CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS lang, text
       |  FROM wv WHERE score <> 0),
       |d AS (SELECT doc_id, lang, text,
       |    CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT) % 4 = 0 AS is_test
       |  FROM lab),
       |t AS (SELECT doc_id, lang, is_test,
       |    CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT) % $NB_BUCKETS AS b
       |  FROM (SELECT doc_id, lang, is_test,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM d)),
       |c AS (SELECT lang, b, count(*) AS c FROM t WHERE NOT is_test GROUP BY 1, 2),
       |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY 1),
       |w AS (SELECT lang, b, length(bin(q*q*q)) - 1 AS w FROM (
       |    SELECT c.lang, c.b,
       |      greatest(1, CAST(floor(1000000.0 * (c.c + 1) / (tl.tot + $NB_BUCKETS)) AS BIGINT)) AS q
       |    FROM c JOIN tl ON tl.lang = c.lang)),
       |pr AS (SELECT lang, count(*) AS n_docs FROM d WHERE NOT is_test GROUP BY 1),
       |prt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS p_tot, count(*) AS n_langs FROM pr),
       |model AS (SELECT pr.lang,
       |    length(bin(pq*pq*pq)) - 1 AS prior_w,
       |    length(bin(dq*dq*dq)) - 1 AS default_w
       |  FROM (SELECT pr.lang,
       |      greatest(1, CAST(floor(1000000.0 * (pr.n_docs + 1) / (prt.p_tot + prt.n_langs)) AS BIGINT)) AS pq,
       |      greatest(1, CAST(floor(1000000.0 * 1 / (tl.tot + $NB_BUCKETS)) AS BIGINT)) AS dq
       |    FROM pr CROSS JOIN prt JOIN tl ON tl.lang = pr.lang) pr),
       |tb AS (SELECT doc_id, b, count(*) AS cnt FROM t WHERE is_test GROUP BY 1, 2),
       |dn AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok FROM tb GROUP BY 1),
       |seen AS (SELECT tb.doc_id, w.lang,
       |    CAST(sum(tb.cnt * w.w) AS BIGINT) AS s_seen,
       |    CAST(sum(tb.cnt) AS BIGINT) AS n_seen
       |  FROM tb JOIN w ON w.b = tb.b GROUP BY 1, 2),
       |grid AS (SELECT td.doc_id, td.lang AS true_lang, m.lang,
       |    m.prior_w + coalesce(seen.s_seen, 0)
       |      + m.default_w * (dn.n_tok - coalesce(seen.n_seen, 0)) AS score
       |  FROM (SELECT doc_id, lang FROM d WHERE is_test) td
       |  JOIN dn ON dn.doc_id = td.doc_id
       |  CROSS JOIN model m
       |  LEFT JOIN seen ON seen.doc_id = td.doc_id AND seen.lang = m.lang),
       |pred AS (SELECT true_lang, lang AS pred_lang FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score DESC, lang) AS r FROM grid) WHERE r = 1)
       |SELECT true_lang AS true_label, pred_lang AS pred_label,
       |  count(*) AS n_docs
       |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------ t26 regex pre-tokenization
  /** t26: regex pre-tokenizer counting — the class-run segmentation every
    * BPE tokenizer applies BEFORE merges (the GPT-2 pattern's structure
    * without its contraction special cases): maximal runs of letters,
    * digits, and other-non-space each count as one pre-token, so
    * "3.5 bottles!" is 5 pre-tokens where whitespace counting sees 2.
    * The pretok/whitespace ratio is the honest budget factor between
    * "words" and what a tokenizer actually segments — the number
    * t01's whitespace counts understate on punctuated/numeric text
    * (t17's BPE counts then subdivide these runs further; the three
    * layers bracket real token cost). The three class counts are
    * disjoint character sets, so three independent whole-text
    * regexp_count passes equal one alternation pass exactly — no
    * alternation-order semantics cross the engine boundary.
    *
    * Scale shape: a narrow projection of four codegen regexp_counts off
    * the documents scan into a |langs|-row aggregate; map-side partials,
    * nothing else shuffles (the t24 shape).
    */
  def pretokenCompare(s: SparkSession, d: String): DataFrame =
    pretokenCompareOf(Tables.documents(s, d))

  /** t26 over any documents-shaped frame (spec-injectable face). */
  private[graft] def pretokenCompareOf(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        size(split(col("text"), " ", -1)).cast("long").as("ws"),
        regexp_count(col("text"), lit("[a-zA-Z]+")).cast("long").as("al"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("dg"),
        regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]+")).cast("long").as("pn"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("al")).as("alpha_runs"),
        sum(col("dg")).as("digit_runs"),
        sum(col("pn")).as("punct_runs"))
      .withColumn("pretok_tokens",
        col("alpha_runs") + col("digit_runs") + col("punct_runs"))
      .withColumn("pretok_vs_ws_ppm",
        expr("(pretok_tokens * 1000000) div ws_tokens"))
      .orderBy("lang")

  /** t26 oracle: identical class runs (needs len(regexp_extract_all) —
    * DuckDB regexp_count? use extract_all length for RE2 parity) and
    * integer ratio.
    */
  val pretokenCompareSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+'))) AS BIGINT) AS alpha_runs,
      |  CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS digit_runs,
      |  CAST(sum(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+'))) AS BIGINT) AS punct_runs,
      |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+')))
      |     + sum(len(regexp_extract_all(text, '[0-9]+')))
      |     + sum(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+'))) AS BIGINT) AS pretok_tokens,
      |  (CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+')))
      |      + sum(len(regexp_extract_all(text, '[0-9]+')))
      |      + sum(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+'))) AS BIGINT) * 1000000)
      |    // CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS pretok_vs_ws_ppm
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------- RAG chunking
  /** t27: fixed-window document chunking with overlap — the retrieval/
    * training prep step that turns documents into model-window-sized
    * pieces (RAG corpora, long-doc pretraining, embedding indexing all
    * consume chunks, not documents). Windows of [[CHUNK_W]] tokens start
    * every [[CHUNK_S]] tokens; a trailing start that adds NO new tokens
    * beyond the previous window (start + W_len ≤ prev_start + W, i.e.
    * n ≤ start + W − S) is suppressed, so every emitted chunk carries at
    * least one token the previous one did not. Each chunk carries its
    * token offsets plus the 60-bit content hash ([[Dedup.baseHash]]) that
    * downstream exact-dedup (d01 discipline) and provenance joins key on.
    *
    * Scale shape: one scan; the explode fans each doc into
    * ceil(n/[[CHUNK_S]]) rows INSIDE the same codegen stage (token array
    * never crosses an exchange — the d03 shingle discipline), and there
    * is no shuffle at all before the output sort. Chunk rows are
    * corpus-linear (W/S ≈ 1.33× token mass), the same blow-up a real
    * chunker pays by construction.
    */
  val CHUNK_W = 64
  val CHUNK_S = 48

  def ragChunks(s: SparkSession, d: String): DataFrame =
    ragChunksOf(Tables.documents(s, d))

  /** t27 chunk rows WITHOUT the terminal sort — the shared kernel of
    * t27 and the d24 chunk-grain dedup (which aggregates the rows, so a
    * sort would be wasted).
    */
  private[graft] def ragChunkRows(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val W = CHUNK_W; val S = CHUNK_S
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id") +: carry.map(col) :+
        tokens(col("text")).as("tk"): _*)
      .withColumn("n", size(col("tk")))
      .withColumn("start", explode(sequence(lit(0), col("n") - 1, lit(S))))
      // suppress covered tails: a start whose window ends inside the
      // previous window's span contributes nothing new
      .filter(col("start") === 0 || col("n") > col("start") + (W - S))
      .select(col("doc_id") +: carry.map(col) :+
        expr(s"start div $S").cast("int").as("chunk_idx") :+
        col("start").cast("long").as("start_tok") :+
        least(lit(W), col("n") - col("start")).cast("long").as("chunk_tokens") :+
        Dedup.baseHash(concat_ws(" ", slice(col("tk"), col("start") + 1, lit(W))))
          .as("chunk_hash"): _*)
  }

  /** t27 over any documents-shaped frame (spec-injectable face). */
  private[graft] def ragChunksOf(docs: DataFrame): DataFrame =
    ragChunkRows(docs).orderBy("doc_id", "chunk_idx")

  /** t27 oracle: identical tokenization (the d03 split), stride/window
    * arithmetic, covered-tail suppression, and md5-prefix chunk hash.
    */
  val ragChunksSql: String = {
    val W = CHUNK_W; val S = CHUNK_S
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents WHERE len(trim(text)) > 0),
       |c AS (SELECT doc_id, tk, len(tk) AS n, unnest(range(0, len(tk), $S)) AS start
       |  FROM t)
       |SELECT doc_id, CAST(start // $S AS INT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_tok,
       |  CAST(least($W, n - start) AS BIGINT) AS chunk_tokens,
       |  CAST(concat('0x', substr(md5(array_to_string(tk[start+1:start+$W], ' ')),1,15)) AS BIGINT) AS chunk_hash
       |FROM c WHERE start = 0 OR n > start + ${W - S}
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ----------------------------------------------- weak-supervision vote
  /** t28: weak-supervision label aggregation — the Snorkel-style vote that
    * turns several cheap, individually-unreliable labeling functions into
    * one training label per document. Four deterministic LFs vote
    * keep(+1) / drop(−1) / abstain(0) from signals the quality family
    * already established (length, symbol load, stopword presence,
    * distinct-token ratio — all integer ppm arithmetic, the t03/t13
    * discipline); the aggregated label is the vote-sum sign, and
    * `n_votes`/unanimity expose the agreement evidence a label-model fit
    * would consume. Output: per (lang, source, label) cohort counts with
    * vote-mass and unanimity tallies.
    *
    * Scale shape: one scan, per-row integer projections (the only array
    * op is one array_distinct inside codegen), then a map-side-collapsed
    * aggregate onto ≤ langs·sources·3 keys. Nothing else shuffles.
    */
  def weakLabels(s: SparkSession, d: String): DataFrame =
    weakLabelsOf(Tables.documents(s, d))

  /** Per-document vote rows (doc_id, lang, source, text, score, n_votes,
    * label) — the shared kernel of the t28 cohort rollup and the t29
    * classifier distillation (text rides through untouched; Catalyst
    * prunes it wherever the consumer doesn't read it).
    */
  private[graft] def weakLabelRows(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    val n = when(length(trim(col("text"))) === 0, lit(0)).otherwise(size(tk))
    // LF1 length: very short docs are fragments, long ones are substantive
    val lfLen = when(col("n_chars") < 120, lit(-1L))
      .when(col("n_chars") > 600, lit(1L)).otherwise(lit(0L))
    // LF2 symbol load: non-alphanumeric-space chars vs total chars. All
    // ratio thresholds in t28 are CROSS-MULTIPLIED exact-integer
    // comparisons — Spark's `/` on longs is IEEE division while DuckDB's
    // `//` floors, and boundary docs would land on different sides
    val sym = length(regexp_replace(col("text"), lit("[A-Za-z0-9\\s]"), lit("")))
      .cast("long")
    val lfSym = when(sym * 10L >= col("n_chars"), lit(-1L))       // ≥ 10%
      .when(sym * 50L <= col("n_chars"), lit(1L)).otherwise(lit(0L)) // ≤ 2%
    // LF3 stopword presence: any stopword token => natural language
    val stopHits = size(filter(tk, x => lower(x).isin(stopwords: _*)))
    val lfStop = when(n === 0, lit(0L))
      .when(stopHits * lit(1000000L) >= n * lit(40000L), lit(1L))
      .when(stopHits === 0, lit(-1L)).otherwise(lit(0L))
    // LF4 repetition: distinct-token ratio (< 50% drop, > 80% keep)
    val uniq = size(array_distinct(tk)).cast("long")
    val lfRep = when(n === 0, lit(0L))
      .when(uniq * 2L < n.cast("long"), lit(-1L))
      .when(uniq * 5L > n.cast("long") * 4L, lit(1L)).otherwise(lit(0L))
    docs
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        lfLen.as("v1"), lfSym.cast("long").as("v2"),
        lfStop.as("v3"), lfRep.as("v4"))
      .withColumn("score", col("v1") + col("v2") + col("v3") + col("v4"))
      .withColumn("n_votes",
        abs(col("v1")) + abs(col("v2")) + abs(col("v3")) + abs(col("v4")))
      .withColumn("label",
        when(col("score") > 0, "keep").when(col("score") < 0, "drop")
          .otherwise("abstain"))
  }

  /** t28 over any documents-shaped frame (spec-injectable face). */
  private[graft] def weakLabelsOf(docs: DataFrame): DataFrame =
    weakLabelRows(docs)
      .groupBy("lang", "source", "label")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score")).as("vote_mass"),
        sum(col("n_votes")).as("votes_cast"),
        count(when(col("n_votes") >= 2 && abs(col("score")) === col("n_votes"), 1))
          .as("n_unanimous"))
      .orderBy("lang", "source", "label")

  /** t28 oracle: the same four LF thresholds, vote-sum sign and cohort
    * rollup (integer ppm arithmetic on both engines).
    */
  val weakLabelsSql: String =
    """WITH b AS (SELECT lang, source, n_chars,
      |    regexp_split_to_array(trim(text), '\s+') AS tk,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
      |    len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS sym
      |  FROM documents),
      |v AS (SELECT lang, source,
      |    CASE WHEN n_chars < 120 THEN -1 WHEN n_chars > 600 THEN 1 ELSE 0 END AS v1,
      |    CASE WHEN sym * 10 >= n_chars THEN -1
      |         WHEN sym * 50 <= n_chars THEN 1 ELSE 0 END AS v2,
      |    CASE WHEN n = 0 THEN 0
      |         WHEN len([x FOR x IN tk IF lower(x) IN ('the','a','and','of','to','is','in')]) * 1000000 >= n * 40000 THEN 1
      |         WHEN len([x FOR x IN tk IF lower(x) IN ('the','a','and','of','to','is','in')]) = 0 THEN -1
      |         ELSE 0 END AS v3,
      |    CASE WHEN n = 0 THEN 0
      |         WHEN len(list_distinct(tk)) * 2 < n THEN -1
      |         WHEN len(list_distinct(tk)) * 5 > n * 4 THEN 1
      |         ELSE 0 END AS v4
      |  FROM b),
      |s AS (SELECT lang, source, v1 + v2 + v3 + v4 AS score,
      |    abs(v1) + abs(v2) + abs(v3) + abs(v4) AS n_votes FROM v)
      |SELECT lang, source,
      |  CASE WHEN score > 0 THEN 'keep' WHEN score < 0 THEN 'drop'
      |       ELSE 'abstain' END AS label,
      |  count(*) AS n_docs,
      |  CAST(sum(score) AS BIGINT) AS vote_mass,
      |  CAST(sum(n_votes) AS BIGINT) AS votes_cast,
      |  CAST(count(*) FILTER (n_votes >= 2 AND abs(score) = n_votes) AS BIGINT) AS n_unanimous
      |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------ t30 TextRank keywords
  /** t30: TextRank keyword extraction (Mihalcea & Tarau 2004) — the g01
    * integer fixed-point PageRank run over the WORD co-occurrence graph:
    * nodes are corpus words (60-bit md5-hashed to long exchange keys),
    * edges are distinct unordered adjacent-token pairs, and the ranks are
    * g01's own kernel ([[Graph.pageRanks]]: its constants, its four
    * damped rounds), top [[TR_K]] words by rank. The composition is the
    * point: the same iteration discipline serves a text-mining face —
    * keyword salience for labeling / data-card generation — without any
    * new machinery. The overflow ceiling (~10^17 node-mass) is g01's,
    * now against vocabulary size — far beyond any real vocabulary. No
    * stopword list: the synthetic corpus is all content words (a
    * production run would filter the t01 stopword set first, one more
    * pushed-down predicate).
    *
    * Scale shape: pairs come from one per-doc lead() window (partitioned
    * by doc, never corpus-wide); the graph shuffles 8-byte hashes; each
    * round is one broadcast join + partial-agg exchange; the vocab map
    * joins back only for the final ≤ TR_K rows... (TakeOrdered cut).
    */
  private val TR_K = 20

  def textrankKeywords(s: SparkSession, d: String): DataFrame =
    textrankKeywordsOf(Tables.documents(s, d))

  /** t30 over any (doc_id, text) frame (spec-injectable face). The rank
    * joins dispatch through [[Graph.iterJoin]] on the vocabulary-node
    * count observed by g01's rank prelude — the g01 switch, though a
    * word-co-occurrence graph crossing 100M NODES means a 100M-word
    * vocabulary (open-vocabulary hashes), so the broadcast arm is the
    * expected one at any realistic corpus.
    */
  def textrankKeywordsOf(docs: DataFrame,
      bcastMax: Long = Graph.RANK_BCAST_MAX_NODES): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toked = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val pairs = toked
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull && col("tok") =!= col("nxt"))
      .select(Dedup.baseHash(col("tok")).as("a"), Dedup.baseHash(col("nxt")).as("b"))
    // deliberately two exchanges (distinct on (src, dst), then the src
    // repartition feeding the checkpoint): folding the distinct onto a
    // pinned src exchange via the subset rule measured 0.70× here in an
    // equality-gated A/B — the tradeEdges note has the full finding
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(true)
    val vocab = toked.select(Dedup.baseHash(col("tok")).as("node"), col("tok"))
      .groupBy(col("node")).agg(min(col("tok")).as("word"))
    Graph.pageRanks(edges, bcastMax).join(vocab, "node")
      .select(col("word"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("word"))
      .limit(TR_K)
  }

  /** t30 oracle: g01's unrolled rounds ([[Graph.pageRanksSql]]) over
    * the SQL-mirrored co-occurrence graph and md5-prefix word hashes.
    */
  val textrankKeywordsSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |           FROM documents),
       |p AS (SELECT unnest([{'a': toks[i], 'b': toks[i+1]}
       |                    FOR i IN range(1, len(toks))]) AS pr
       |      FROM t),
       |ph AS (SELECT CAST(concat('0x', substr(md5(pr.a), 1, 15)) AS BIGINT) AS a,
       |              CAST(concat('0x', substr(md5(pr.b), 1, 15)) AS BIGINT) AS b
       |       FROM p WHERE pr.a <> pr.b),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT a AS src, b AS dst FROM ph
       |    UNION ALL SELECT b AS src, a AS dst FROM ph)),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY src),
       |adj AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.node = e.src),
       |r0 AS (SELECT node, CAST(${Graph.START_FP} AS BIGINT) AS r FROM deg),
       |${Graph.pageRanksSql},
       |vocab AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS node,
       |    min(tok) AS word
       |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1)
       |SELECT word, r AS rank_fp
       |FROM r${Graph.ITERS} JOIN vocab USING (node)
       |ORDER BY rank_fp DESC, word LIMIT $TR_K""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t30_textrank_keywords" -> (textrankKeywords _),
    "t29_nb_quality" -> (nbQuality _),
    "t28_weak_labels" -> (weakLabels _),
    "t27_rag_chunking" -> (ragChunks _),
    "t26_pretoken_compare" -> (pretokenCompare _),
    "t25_nb_langid" -> (nbLangid _),
    "t24_readability" -> (readability _),
    "t23_ngram_novelty" -> (ngramNovelty _),
    "t22_ccnet_buckets" -> (ccnetBuckets _),
    "t21_bpe_fertility" -> (bpeFertility _),
    "t20_zipf_coverage" -> (zipfCoverage _),
    "t19_bm25_topk" -> (bm25TopK _),
    "t18_vocab_growth" -> (vocabGrowth _),
    "t17_bpe_encode" -> (bpeEncode _),
    "t16_bpe_merges" -> (bpeMerges _),
    "t15_bigram_lm" -> (bigramLm _),
    "t14_heavy_ngrams" -> (heavyShingles _),
    "t13_gopher_rules" -> (gopherRules _),
    "t12_boilerplate" -> (boilerplateRemoval _),
    "t11_typicality" -> (typicality _),
    "t10_pii_redaction" -> (piiRedaction _),
    "t09_repetition" -> (repetitionStats _),
    "t08_winnowing" -> (winnowingFingerprints _),
    "t07_tfidf" -> (tfidfTopTerms _),
    "t01_token_stats" -> (tokenStats _),
    "t02_langid" -> (langIdConfusion _),
    "t03_quality" -> (qualityScores _),
    "t04_fingerprint" -> (fingerprints _),
    "t05_cleantext" -> (cleanedDocs _))

  val oracles: Map[String, String] = Map(
    "t30_textrank_keywords" -> textrankKeywordsSql,
    "t29_nb_quality" -> nbQualitySql,
    "t28_weak_labels" -> weakLabelsSql,
    "t27_rag_chunking" -> ragChunksSql,
    "t26_pretoken_compare" -> pretokenCompareSql,
    "t25_nb_langid" -> nbLangidSql,
    "t24_readability" -> readabilitySql,
    "t23_ngram_novelty" -> ngramNoveltySql,
    "t22_ccnet_buckets" -> ccnetBucketsSql,
    "t21_bpe_fertility" -> bpeFertilitySql,
    "t20_zipf_coverage" -> zipfCoverageSql,
    "t19_bm25_topk" -> bm25TopKSql,
    "t18_vocab_growth" -> vocabGrowthSql,
    "t17_bpe_encode" -> bpeEncodeSql,
    "t16_bpe_merges" -> bpeMergesSql,
    "t15_bigram_lm" -> bigramLmSql,
    "t14_heavy_ngrams" -> heavyShinglesSql,
    "t13_gopher_rules" -> gopherRulesSql,
    "t12_boilerplate" -> boilerplateRemovalSql,
    "t11_typicality" -> typicalitySql,
    "t10_pii_redaction" -> piiRedactionSql,
    "t09_repetition" -> repetitionStatsSql,
    "t08_winnowing" -> winnowingFingerprintsSql,
    "t07_tfidf" -> tfidfTopTermsSql,
    "t01_token_stats" -> tokenStatsSql,
    "t02_langid" -> langIdConfusionSql,
    "t03_quality" -> qualityScoresSql,
    "t04_fingerprint" -> fingerprintsSql,
    "t05_cleantext" -> cleanedDocsSql)
}
