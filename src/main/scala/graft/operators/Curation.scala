package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** The end-to-end training-data curation pipeline — the composition a
  * corpus engineer actually runs, wired from the individually-verified
  * stages: quality gate → exact dedup (min-id per content hash) →
  * near-dup survivor selection (capped n-gram Jaccard pairs → connected
  * components → keep component min) → per-(source, lang) corpus stats.
  *
  * Scale shape: the quality gate is a narrow codegen'd filter at the scan;
  * exact dedup shuffles (hash, id) pairs and semi-joins the ids back (one
  * body-carrying shuffle total); the near-dup stage inherits d03/d07's
  * capped sub-quadratic shape; the final stats are a partial-aggregated
  * two-column rollup. Nothing here materializes bodies beyond the one
  * dedup semi-join.
  */
object Curation {

  /** Minimum whitespace-token count for a document to enter the corpus. */
  val MIN_TOKENS = 5

  /** The curation funnel's stage frames: (raw, qualified, keep, surviving).
    * Shared by the p01 stats query and the p05 funnel report.
    */
  private def stageFrames(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val qualified = docs.filter(size(TextFunctions.tokens(col("text"))) >= MIN_TOKENS)
    // exact dedup: keep the smallest doc_id per content hash; the hash
    // aggregate shuffles (hash, id) only, then a semi-join restores rows
    val keep = qualified
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // The pair pipeline references the deduped set three times (posting
    // groups + two size joins) and connectedComponentsAuto materializes it
    // EAGERLY — cache across that phase, then unpersist so the lazy stats
    // tail recomputes it exactly once: 2 scans of the documents table
    // total instead of 4 (the cached CC results carry no lineage back to
    // it — the small path collects, the large path localCheckpoints).
    val deduped = qualified.join(keep, Seq("doc_id"), "left_semi").cache()
    // near-dup survivor filter over the deduped set (capped, d03 shape)
    val base = deduped.select(col("doc_id"), col("lang"),
      floor(col("n_chars") / 100).cast("int").as("band"), col("text"))
    val pairs = Dedup.ngramJaccardPairsOn(base, Dedup.MAX_POSTING_LEN)
      .select("id_a", "id_b")
    val losers =
      try Dedup.connectedComponentsAuto(pairs)
        .filter(col("id") =!= col("lbl"))
        .select(col("id").as("doc_id"))
      finally deduped.unpersist()
    (docs, qualified, keep, losers,
      deduped.join(losers, Seq("doc_id"), "left_anti"))
  }

  /** Production entry point when BOTH the survivor stats (p01) and the
    * funnel counters (p05) are wanted: one stageFrames call, so the
    * (dominant) pair pipeline and connected components run ONCE for the
    * two reports. The registered p01/p05 queries stay independent because
    * the driver harness runs each key in isolation; a real ingest batch
    * calls this instead and pays the pipeline once.
    */
  def curationReport(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (docs, _, keep, losers, surviving) = stageFrames(s, d)
    (statsOf(surviving), funnelOf(docs, keep, losers))
  }

  private def statsOf(surviving: DataFrame): DataFrame =
    surviving.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("source", "lang")

  /** The four funnel counters in ONE pass over documents: per-doc stage
    * flags (gate predicate; keeper/loser via joins on the thin id
    * frames) feed a single conditional aggregate, unstacked to rows —
    * instead of four independent stage-frame scans (the funnel tail
    * drops from ~0.23 s to ~0.04 s over p01's cost at sf0.1 — at 100 TB
    * it is the difference between 1 and 4 corpus scans after the pair
    * pipeline).
    */
  private def funnelOf(docs: DataFrame, keep: DataFrame, losers: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        (size(TextFunctions.tokens(col("text"))) >= MIN_TOKENS).as("q"))
      .join(keep.withColumn("k", lit(true)), Seq("doc_id"), "left")
      .join(losers.withColumn("lsr", lit(true)), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n0"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n2"),
        sum(when(col("k").isNotNull && col("lsr").isNull, 1L).otherwise(0L)).as("n3"))
      .select(expr(
        """stack(4,
          |  0, 'raw',               n0,
          |  1, 'quality_gated',     n1,
          |  2, 'exact_deduped',     n2,
          |  3, 'neardup_survivors', n3) AS (stage_no, stage, n_docs)""".stripMargin))
      .orderBy("stage_no")

  def curate(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, _, surviving) = stageFrames(s, d)
    statsOf(surviving)
  }

  /** p11: [[curationReport]] as ONE registered, oracled query — the
    * PRODUCTION face of the p01/p05 pair. The driver harness prices p01
    * and p05 as two isolated runs, each paying the (dominant) pair
    * pipeline + connected components; a real ingest batch pays it once
    * and reads both reports off the shared frames. This key exposes that
    * shape to the bench: both report sections in one frame from one
    * stageFrames call, so its cost ≈ ONE pipeline run + two cheap
    * aggregate tails (CurationOpsSpec pins section-equality with the
    * registered p01/p05 outputs).
    *
    * Schema: (section, item, n_docs, sum_chars) — 'funnel' rows carry the
    * stage-ordered counters (sum_chars null), 'stats' rows the per
    * (source, lang) survivor stats, `item` prefixed for a deterministic
    * total order.
    */
  def curationReportUnified(s: SparkSession, d: String): DataFrame = {
    val (stats, funnel) = curationReport(s, d)
    val funnelRows = funnel.select(
      lit("funnel").as("section"),
      concat(col("stage_no").cast("string"), lit("_"), col("stage")).as("item"),
      col("n_docs").cast("long").as("n_docs"),
      lit(null).cast("long").as("sum_chars"))
    val statsRows = stats.select(
      lit("stats").as("section"),
      concat(col("source"), lit("/"), col("lang")).as("item"),
      col("n_docs").cast("long").as("n_docs"),
      col("sum_chars"))
    funnelRows.unionByName(statsRows).orderBy("section", "item")
  }

  lazy val curationReportSql: String =
    s"""$curationCtes
      |SELECT section, item, n_docs, sum_chars FROM (
      |  SELECT 'funnel' AS section, '0_raw' AS item,
      |         (SELECT count(*) FROM documents) AS n_docs,
      |         CAST(NULL AS BIGINT) AS sum_chars
      |  UNION ALL SELECT 'funnel', '1_quality_gated',
      |         (SELECT count(*) FROM q), NULL
      |  UNION ALL SELECT 'funnel', '2_exact_deduped',
      |         (SELECT count(*) FROM keep), NULL
      |  UNION ALL SELECT 'funnel', '3_neardup_survivors',
      |         (SELECT count(*) FROM surv), NULL
      |  UNION ALL SELECT 'stats', source || '/' || lang,
      |         count(*), CAST(sum(n_chars) AS BIGINT)
      |    FROM surv GROUP BY source, lang)
      |ORDER BY section, item""".stripMargin

  // ------------------------------------------------------ funnel report
  /** p05: the curation funnel — per-stage document counts (raw → quality
    * gate → exact dedup → near-dup survivors), the observability face of
    * p01: the number a corpus engineer watches per ingest batch to catch
    * a mis-tuned gate (stage 1 collapses) or a dedup regression (stage
    * 2/3 stops dropping). The counts come from [[funnelOf]]'s single
    * flagged pass; the pair pipeline dominates, exactly as in p01 — a
    * batch wanting both reports calls [[curationReport]] and pays it once.
    */
  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    val (docs, _, keep, losers, _) = stageFrames(s, d)
    funnelOf(docs, keep, losers)
  }

  /** Oracle: the same four stages composed in SQL — token gate, min-id per
    * md5, capped-pair recursive-CTE components, anti-joined stats. The CTE
    * chain is shared verbatim with the p05 funnel oracle.
    */
  private lazy val curationCtes: String =
    s"""WITH RECURSIVE
      |q AS (SELECT * FROM documents
      |      WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= $MIN_TOKENS),
      |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
      |dd AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
      |t AS (SELECT doc_id, lang, CAST(floor(n_chars/100.0) AS INT) AS band,
      |             regexp_split_to_array(trim(text), '\\s+') AS toks
      |      FROM dd),
      |g AS (SELECT DISTINCT doc_id, lang, band,
      |        CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
      |      FROM (SELECT doc_id, lang, band,
      |              unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |                          ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                                FOR i IN range(1, len(toks)-1)] END) AS sh0
      |            FROM t)),
      |gx AS (SELECT doc_id, lang, band, band + k AS pband, sh
      |       FROM g, range(0, 2) r(k)),
      |f AS (SELECT lang, pband, sh, count(*) AS plen FROM gx GROUP BY 1, 2, 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |      FROM gx a JOIN gx b ON a.sh = b.sh AND a.lang = b.lang
      |                       AND a.pband = b.pband AND a.doc_id < b.doc_id
      |      JOIN f ON f.lang = a.lang AND f.pband = a.pband AND f.sh = a.sh
      |      WHERE f.plen <= ${Dedup.MAX_POSTING_LEN}
      |        AND a.pband = greatest(a.band, b.band)
      |      GROUP BY 1, 2),
      |prs AS (SELECT id_a, id_b FROM p JOIN sz sa ON id_a = sa.doc_id
      |                                 JOIN sz sb ON id_b = sb.doc_id
      |        WHERE common * 10 >= sa.n + sb.n - common),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
      |          UNION SELECT id_b, id_a FROM prs),
      |cc AS (
      |  SELECT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, cc.lbl AS lbl FROM cc JOIN edges e ON cc.id = e.src
      |),
      |losers AS (SELECT id FROM cc GROUP BY id HAVING id <> min(lbl)),
      |surv AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT id FROM losers))""".stripMargin

  lazy val curateSql: String =
    s"""$curationCtes
      |SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM surv GROUP BY source, lang ORDER BY source, lang""".stripMargin

  lazy val curationFunnelSql: String =
    s"""$curationCtes
      |SELECT * FROM (
      |  SELECT 0 AS stage_no, 'raw' AS stage,
      |         (SELECT count(*) FROM documents) AS n_docs
      |  UNION ALL SELECT 1, 'quality_gated', (SELECT count(*) FROM q)
      |  UNION ALL SELECT 2, 'exact_deduped', (SELECT count(*) FROM keep)
      |  UNION ALL SELECT 3, 'neardup_survivors', (SELECT count(*) FROM surv))
      |ORDER BY stage_no""".stripMargin

  // ------------------------------------------------------ decontamination
  /** p02: benchmark decontamination — the eval-set leak check a training
    * pipeline runs before any model sees the corpus: a train document
    * sharing an [[CONTAM_NGRAM]]-token n-gram with a benchmark document
    * is contaminated (8 is the customary n for benchmark-overlap checks).
    * The benchmark set is the deterministic doc_id % [[BENCH_MOD]] == 0
    * slice. The synthetic corpus has no organic 8-gram cross-document
    * overlap, so contaminated train docs are PLANTED deterministically
    * (benchmark text minus its first token, id offset by 1e6) — the d06
    * pattern: the check exercises the real shingle join, aggregation and
    * output on real collisions, and the oracle mirrors the planting
    * (including the re-tokenization of the planted text) exactly.
    *
    * Scale shape: two distinct-shingle tables (codegen explode), one
    * equi-join on the 8-gram string, count-distinct per train doc. Real
    * eval sets are tiny, so the bench side is broadcastable; the plan
    * pins no strategy (AQE decides).
    */
  val CONTAM_NGRAM = 8
  val BENCH_MOD = 97
  // far above any organic doc_id at any corpus size (a 1e12-doc corpus is
  // beyond the 100 TB design point), so planted ids can never collide
  val PLANT_OFFSET = 1000000000000L

  def decontamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % BENCH_MOD === 0).select("doc_id", "text")
    val tk = TextFunctions.tokens(col("text"))
    val planted = bench.select(
      (col("doc_id") + PLANT_OFFSET).as("doc_id"),
      array_join(slice(tk, lit(2), greatest(size(tk) - 1, lit(0))), " ").as("text"))
    val train = docs.filter(col("doc_id") % BENCH_MOD =!= 0)
      .select("doc_id", "text").unionByName(planted)
    val ta = Dedup.ngramShingleTable(train, CONTAM_NGRAM)
      .withColumnRenamed("doc_id", "t_id")
    val tb = Dedup.ngramShingleTable(bench, CONTAM_NGRAM)
      .withColumnRenamed("doc_id", "b_id")
    ta.join(tb, "sh")
      .groupBy(col("t_id").as("doc_id"))
      .agg(countDistinct(col("sh")).as("n_hits"),
        countDistinct(col("b_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  lazy val decontaminationSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |           FROM documents),
      |bench AS (SELECT doc_id, toks FROM t WHERE doc_id % $BENCH_MOD = 0),
      |planted AS (SELECT doc_id + $PLANT_OFFSET AS doc_id,
      |              regexp_split_to_array(
      |                trim(array_to_string(toks[2:len(toks)], ' ')), '\\s+') AS toks
      |            FROM bench),
      |train AS (SELECT doc_id, toks FROM t WHERE doc_id % $BENCH_MOD <> 0
      |          UNION ALL SELECT doc_id, toks FROM planted),
      |gt AS (SELECT doc_id, unnest(list_distinct(
      |         CASE WHEN len(toks) < $CONTAM_NGRAM THEN [array_to_string(toks, ' ')]
      |              ELSE [array_to_string(toks[i:i+${CONTAM_NGRAM - 1}], ' ')
      |                    FOR i IN range(1, len(toks)-${CONTAM_NGRAM - 2})] END)) AS sh
      |       FROM train),
      |gb AS (SELECT doc_id, unnest(list_distinct(
      |         CASE WHEN len(toks) < $CONTAM_NGRAM THEN [array_to_string(toks, ' ')]
      |              ELSE [array_to_string(toks[i:i+${CONTAM_NGRAM - 1}], ' ')
      |                    FOR i IN range(1, len(toks)-${CONTAM_NGRAM - 2})] END)) AS sh
      |       FROM bench)
      |SELECT gt.doc_id, count(DISTINCT gt.sh) AS n_hits,
      |  count(DISTINCT gb.doc_id) AS n_bench_docs
      |FROM gt JOIN gb ON gt.sh = gb.sh
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------- p25 contamination dashboard
  /** The benchmark suites of the p25 dashboard: three deterministic
    * doc_id-mod slices standing in for three eval sets (a doc can sit in
    * more than one suite, as real eval items do across leaderboards).
    * Each suite plants its own leaked train docs at a DISTINCT id offset
    * (suite i → (i+1)·PLANT_OFFSET), so the planted population is known
    * per suite and can never collide.
    */
  val CONTAM_SUITES: Seq[Long] = Seq(97L, 89L, 83L)

  /** p25: the multi-benchmark contamination DASHBOARD — p02's check as a
    * fleet report: per (suite, source), how many train documents share an
    * 8-gram with that suite, how many distinct leaking 8-grams, and the
    * contaminated fraction of the source's token mass in exact ppm. This
    * is the report a data lead reads across MANY eval suites before a
    * training run, and the amortization is the point: the TRAIN side
    * (the 100 TB side) is shingled ONCE and joined against the union of
    * all suites' tagged shingles — per-suite p02 runs would re-explode
    * the corpus |suites| times.
    *
    * Scale shape: train shingles are 60-bit hashes (8-byte exchange
    * keys, the d03 discipline); bench suites are tiny and arrive
    * pre-distincted at suite grain; per-doc hits aggregate before the
    * meta join; the (suite, source) grid and per-source token totals are
    * ≤ |suites|·|sources| and |sources| rows. Zero-contamination cells
    * are emitted explicitly (a dashboard that omits clean suites reads
    * as "not checked", not "clean").
    */
  def contaminationReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val tk = TextFunctions.tokens(col("text"))
    val inAny = CONTAM_SUITES.map(m => col("doc_id") % m === 0).reduce(_ || _)
    val clean = docs.filter(!inAny).select(col("doc_id"), col("text"), col("source"))
    val planted = CONTAM_SUITES.zipWithIndex.map { case (m, i) =>
      docs.filter(col("doc_id") % m === 0).select(
        (col("doc_id") + lit(PLANT_OFFSET * (i + 1))).as("doc_id"),
        array_join(slice(tk, lit(2), greatest(size(tk) - 1, lit(0))), " ")
          .as("text"),
        col("source"))
    }.reduce(_ unionByName _)
    val train = clean.unionByName(planted)
    val meta = train.select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("ntok"))
    val trainSh = Dedup.shingleTable(train.select("doc_id", "text"),
      n = CONTAM_NGRAM, hashed = true)
    val benchSh = CONTAM_SUITES.map { m =>
      Dedup.shingleTable(
          docs.filter(col("doc_id") % m === 0).select("doc_id", "text"),
          n = CONTAM_NGRAM, hashed = true)
        .select(lit(m).as("suite"), col("sh")).distinct()
    }.reduce(_ unionByName _)
    val perDoc = trainSh.join(benchSh, "sh")
      .groupBy(col("suite"), col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_hits"))
    val stats = perDoc.join(meta, "doc_id")
      .groupBy(col("suite"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_hits")).as("n_hits"),
        sum(col("ntok")).as("contam_toks"))
    val totals = meta.groupBy(col("source")).agg(sum(col("ntok")).as("toks"))
    val grid = CONTAM_SUITES.toDF("suite")
      .crossJoin(docs.select(col("source")).distinct())
    grid.join(stats, Seq("suite", "source"), "left")
      .join(broadcast(totals), "source")
      .select(col("suite"), col("source"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(expr("1000000 * contam_toks div toks"), lit(0L))
          .as("contam_ppm"))
      .orderBy("suite", "source")
  }

  /** p25 oracle: the suite union generated from the same constants; the
    * 60-bit shingle hash is the established md5-prefix SQL mirror.
    */
  lazy val contaminationReportSql: String = {
    val mods = CONTAM_SUITES
    val notAny = mods.map(m => s"doc_id % $m <> 0").mkString(" AND ")
    val plantedCtes = mods.zipWithIndex.map { case (m, i) =>
      s"""SELECT doc_id + ${PLANT_OFFSET * (i + 1)} AS doc_id,
         |  trim(array_to_string(
         |    regexp_split_to_array(text, '\\s+')[2:len(regexp_split_to_array(text, '\\s+'))],
         |    ' ')) AS text, source
         |FROM t WHERE doc_id % $m = 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    val benchCtes = mods.map { m =>
      s"""SELECT CAST($m AS BIGINT) AS suite, sh FROM (
         |  SELECT DISTINCT CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
         |  FROM (SELECT unnest(list_distinct(
         |      CASE WHEN len(toks) < $CONTAM_NGRAM THEN [array_to_string(toks, ' ')]
         |           ELSE [array_to_string(toks[i:i+${CONTAM_NGRAM - 1}], ' ')
         |                 FOR i IN range(1, len(toks)-${CONTAM_NGRAM - 2})] END)) AS sh0
         |        FROM (SELECT regexp_split_to_array(text, '\\s+') AS toks
         |              FROM t WHERE doc_id % $m = 0)))""".stripMargin
    }.mkString("\nUNION ALL\n")
    val suiteValues = mods.map(m => s"(CAST($m AS BIGINT))").mkString(", ")
    s"""WITH t AS (SELECT doc_id, trim(text) AS text, source FROM documents),
       |train AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM t WHERE $notAny
       |  UNION ALL
       |  $plantedCtes),
       |meta AS MATERIALIZED (SELECT doc_id, source,
       |    CASE WHEN len(text) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(text, '\\s+')) END AS ntok
       |  FROM train),
       |gt AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
       |  FROM (SELECT doc_id, unnest(list_distinct(
       |      CASE WHEN len(toks) < $CONTAM_NGRAM THEN [array_to_string(toks, ' ')]
       |           ELSE [array_to_string(toks[i:i+${CONTAM_NGRAM - 1}], ' ')
       |                 FOR i IN range(1, len(toks)-${CONTAM_NGRAM - 2})] END)) AS sh0
       |    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
       |          FROM train))),
       |gb AS MATERIALIZED ($benchCtes),
       |perdoc AS (SELECT gb.suite, gt.doc_id, count(DISTINCT gt.sh) AS n_hits
       |  FROM gt JOIN gb ON gt.sh = gb.sh GROUP BY 1, 2),
       |stats AS (SELECT suite, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_hits) AS BIGINT) AS n_hits,
       |    CAST(sum(ntok) AS BIGINT) AS contam_toks
       |  FROM perdoc JOIN meta USING (doc_id) GROUP BY 1, 2),
       |totals AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS toks
       |  FROM meta GROUP BY 1),
       |grid AS (SELECT suite, source
       |  FROM (VALUES $suiteValues) s(suite)
       |  CROSS JOIN (SELECT DISTINCT source FROM documents))
       |SELECT grid.suite, grid.source,
       |  coalesce(n_docs, 0) AS n_docs,
       |  coalesce(n_hits, 0) AS n_hits,
       |  CAST(coalesce(1000000 * contam_toks // toks, 0) AS BIGINT) AS contam_ppm
       |FROM grid
       |LEFT JOIN stats ON grid.suite = stats.suite AND grid.source = stats.source
       |JOIN totals ON grid.source = totals.source
       |ORDER BY grid.suite, grid.source""".stripMargin
  }

  // ------------------------------------------------------ train/val split
  /** p03: deterministic stratified train/val split. A training pipeline
    * needs a holdout that is reproducible (no RNG), order-independent,
    * and stable under corpus growth/dedup — so assignment is a pure
    * function of the document's CONTENT hash: the cross-engine md5
    * family mod 100 against [[VAL_PCT]]. Content (not doc_id) hashing
    * also keeps exact duplicates on the same side of the split, so the
    * holdout can't leak via an unnoticed dup. Output: per (source, lang,
    * split) doc counts and char sums — the mixture table a sampler
    * consumes.
    *
    * Scale shape: narrow projection + one partial-aggregated rollup; the
    * split column costs one md5 per row at the scan.
    */
  val VAL_PCT = 10

  def trainValSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), col("lang"),
        when(Dedup.baseHash(col("text")) % 100 < VAL_PCT, "val")
          .otherwise("train").as("split"),
        col("n_chars"))
      .groupBy("source", "lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("source", "lang", "split")

  lazy val trainValSplitSql: String =
    s"""WITH s AS (SELECT source, lang,
      |  CASE WHEN CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT) % 100 < $VAL_PCT
      |       THEN 'val' ELSE 'train' END AS split,
      |  n_chars FROM documents)
      |SELECT source, lang, split, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------- leakage-safe split (p15)
  /** p15: NEAR-DUP-SAFE train/val split. p03's content hash keeps exact
    * duplicates on one side, but a near-duplicate (boilerplate variant,
    * re-crawl with one edit) hashes differently and can straddle the
    * split — the classic silent eval leak. Here the split is a pure
    * function of the document's NEAR-DUP COMPONENT: the d07 pair pipeline
    * + connected components assigns every doc a component label
    * (singletons label themselves), and the component label — not the
    * doc — is hashed against [[VAL_PCT]]. Whole clusters land on one
    * side by construction, so no near-dup pair can cross the boundary.
    *
    * Scale shape: exactly d07's (capped posting lists, long-only pair
    * exchanges, O(log n) CC rounds) plus one broadcast-joinable label
    * frame and a rollup; the split decision itself is one md5 per GROUP,
    * not per doc.
    */
  /** Per-document assignment face of [[leakageSafeSplit]]:
    * (doc_id, source, component, split). LeakageSafeSplitSpec asserts the
    * guarantee on THIS frame (every near-dup pair lands in one split).
    */
  def leakageSafeSplitAssign(s: SparkSession, d: String): DataFrame = {
    // no checkpoint: connectedComponentsAuto is the ONLY consumer and
    // cache()s/unpersists the edge frame itself (the d07/d14 shape);
    // checkpointing here would strand the RDD for the session lifetime
    val pairs = Dedup.ngramJaccardPairs(s, d).select("id_a", "id_b")
    val labels = Dedup.connectedComponentsAuto(pairs)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    docs.join(labels, docs("doc_id") === labels("id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("lbl"), col("doc_id")).as("component"))
      .withColumn("split",
        when(Dedup.baseHash(col("component").cast("string")) % 100 < VAL_PCT, "val")
          .otherwise("train"))
  }

  def leakageSafeSplit(s: SparkSession, d: String): DataFrame =
    leakageSafeSplitAssign(s, d)
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_clusters"))
      .orderBy("source", "split")

  /** p15 oracle: the shared d07 CC chain, then the same component-hash
    * split decision and rollup.
    */
  lazy val leakageSafeSplitSql: String =
    s"""${Dedup.ccCtes},
      |labels AS (SELECT id, min(lbl) AS lbl FROM cc GROUP BY id),
      |a AS (SELECT d.doc_id, d.source, coalesce(l.lbl, d.doc_id) AS component
      |      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
      |b AS (SELECT source, component,
      |  CASE WHEN CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)),1,15)) AS BIGINT)
      |         % 100 < $VAL_PCT
      |       THEN 'val' ELSE 'train' END AS split FROM a)
      |SELECT source, split, count(*) AS n_docs,
      |  count(DISTINCT component) AS n_clusters
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- source downsampling
  /** p04: deterministic per-source downsampling — the mixture-rebalance
    * step that caps over-represented sources (a crawl dump 100x the size
    * of a books corpus would otherwise dominate training): within each
    * source, docs are ranked by (content-hash, doc_id) — a deterministic
    * shuffle, not an RNG — and only the first [[SAMPLE_CAP]] survive.
    * Hash-ranking makes the sample uniform-ish over content yet exactly
    * reproducible, and adding new docs to a source only displaces the
    * tail. Output: the per-(source, lang) mixture after the cap.
    *
    * Scale shape: TWO-LEVEL ranking, because `source` has ~20 distinct
    * values — a single `row_number` window partitioned by bare source
    * would sort 1/20th of a 100 TB corpus on ONE task. Level 1 ranks
    * within (source, pmod(hash, [[DOWNSAMPLE_BUCKETS]])) buckets — each
    * partition is 1/(20·B) of the corpus — and keeps at most SAMPLE_CAP
    * rows per bucket; any row in a source's global top-CAP is necessarily
    * in its own bucket's top-CAP (the ordering key is identical), so
    * level 2 re-ranks only the ≤ B·CAP survivors per source and keeps the
    * SAME winners the single window would have picked. The oracle keeps
    * the one-window formulation — results are hash-identical by
    * construction. PlanShapeSpec pins the bucketed level-1 window.
    */
  val SAMPLE_CAP = 10
  val DOWNSAMPLE_BUCKETS = 64

  def sourceDownsample(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wBucket = W.partitionBy(col("source"),
        pmod(col("h"), lit(DOWNSAMPLE_BUCKETS)))
      .orderBy(col("h").asc, col("doc_id").asc)
    val wSource = W.partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("h", Dedup.baseHash(col("text")))
      .withColumn("rk1", row_number().over(wBucket))
      .filter(col("rk1") <= SAMPLE_CAP)
      .withColumn("rk", row_number().over(wSource))
      .filter(col("rk") <= SAMPLE_CAP)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("source", "lang")
  }

  lazy val sourceDownsampleSql: String =
    s"""WITH r AS (SELECT source, lang, n_chars,
      |  row_number() OVER (PARTITION BY source
      |    ORDER BY CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT), doc_id) AS rk
      |  FROM documents)
      |SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM r WHERE rk <= $SAMPLE_CAP
      |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // --------------------------------------------------- sequence packing
  /** p06: training-sequence packing — the concat-and-chunk index map a
    * dataloader needs: documents are concatenated in (source, doc_id)
    * order and cut into fixed [[SEQ_TOKENS]]-token training sequences;
    * for every document, which sequences does it land in? (The
    * Megatron/GPT pretraining data layout; start_seq == end_seq means
    * the doc sits inside one sequence, spans > 1 mean it straddles
    * cuts.) Packing is PER SOURCE — each source is an independent
    * sequence stream.
    *
    * Scale shape: a per-source cumulative sum is order-dependent, and
    * `source` has ~20 values — a window partitioned by bare source would
    * scan petabytes on one task. The offset is instead the
    * [[SlicedPrefix]] running sum per source over [[PACK_SLICES]]
    * contiguous doc_id ranges, so the bin frame is ≤ sources ·
    * PACK_SLICES rows. The slice id is `doc_id div width`, with width
    * from the exact max(doc_id) (division first, so arbitrary int64 ids
    * cannot overflow): deterministic arithmetic, not physical
    * partitioning. PlanShapeSpec pins the two-phase plan.
    *
    * All arithmetic is exact int64 (`div`, not float division), so the
    * oracle hash-matches at any corpus size — the oracle keeps the
    * one-window formulation, which is value-identical by construction.
    */
  val SEQ_TOKENS = 512
  val PACK_SLICES = 32

  def sequencePacking(s: SparkSession, d: String): DataFrame = {
    val base0 = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    // exact 1-row bound -> slice width; `div` first so max int64 ids
    // cannot overflow, and every slice id is a pure function of doc_id
    val bound = base0.agg(max(col("doc_id")).as("max_id"))
      .select(expr(s"max_id div $PACK_SLICES + 1").as("width"))
    val sliced = base0.crossJoin(broadcast(bound))
      .withColumn("slice", expr("doc_id div width").cast("int"))
      .drop("width")
    SlicedPrefix(sliced, Seq("slice"),
        Seq(SlicedPrefix.Run("offset", desc = false, col("doc_id"))),
        groups = Seq("source"), weight = Some(col("n_tokens")),
        exclusive = true)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"offset div $SEQ_TOKENS").as("start_seq"),
        expr(s"(offset + n_tokens - 1) div $SEQ_TOKENS").as("end_seq"))
      .orderBy("doc_id")
  }

  lazy val sequencePackingSql: String =
    s"""WITH t AS (SELECT doc_id, source,
      |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, source, n_tokens,
      |  COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
      |  FROM t)
      |SELECT doc_id, source, n_tokens,
      |  off // $SEQ_TOKENS AS start_seq,
      |  (off + n_tokens - 1) // $SEQ_TOKENS AS end_seq
      |FROM o ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- mixture sampling
  /** p07: token-budget mixture sampling — the data-mixing step that turns
    * a curated corpus plus a mixture spec ("web 40%, books 25%, code
    * 20%, …") into the actual training set: each source gets a token
    * target = its weight's share of [[MIX_BUDGET_TOKENS]]; an
    * over-represented source is downsampled to its target by a
    * deterministic content-hash threshold (no RNG — reproducible, stable
    * under corpus growth, and exact dups land on the same side, the p03
    * property); an under-represented source is kept whole and reports
    * the `n_epochs` repeat factor a dataloader would cycle it
    * (Hoffmann-style epoching, reported not materialized). The mixture
    * weights here are a deterministic function of the source name
    * (permille 10 + 15·(idx mod 6)) standing in for the config table a
    * real run would broadcast.
    *
    * The acceptance test is exact integer compare against a quantized
    * threshold: keep iff pmod(hash, 2^20) < floor(2^20 · target / total)
    * — the two IEEE ops (multiply, divide) are computed identically by
    * both engines, and the comparison never overflows int64 at any
    * corpus size (unlike cross-multiplying hash·total_tokens, which
    * would overflow at ~10^13 tokens/source).
    *
    * Scale shape: per-source totals are one partial-aggregated rollup
    * (20 rows); the plan frame (weights, targets, thresholds) is tiny
    * and broadcast back onto the narrow per-doc projection; the final
    * per-source report is a second partial rollup. Bodies never shuffle;
    * the only corpus-wide exchanges carry (source, n_tokens, hash).
    */
  val MIX_BUDGET_TOKENS = 30000L
  val MIX_THRESH_SCALE = 1L << 20

  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
        Dedup.baseHash(col("text")).as("h"))
    // weight permille from the source name — stand-in for the mixture
    // config a production run would supply (and broadcast) as a table
    val weight = (substring(col("source"), 4, 10).cast("long") % 6) * 15 + 10
    val totals = docs.groupBy("source")
      .agg(sum(col("n_tokens")).as("t_tokens"))
      .withColumn("w", weight)
    val wSum = totals.agg(sum(col("w")).as("w_sum"))
    val plan = totals.crossJoin(broadcast(wSum))
      .withColumn("target_tokens",
        expr(s"($MIX_BUDGET_TOKENS * w) div w_sum"))
      .withColumn("thresh", least(lit(MIX_THRESH_SCALE),
        floor(lit(MIX_THRESH_SCALE.toDouble) * col("target_tokens") /
          greatest(col("t_tokens"), lit(1L))).cast("long")))
      .withColumn("n_epochs",
        when(col("target_tokens") > col("t_tokens"),
          expr("(target_tokens + t_tokens - 1) div t_tokens"))
          .otherwise(lit(1L)))
    docs.join(broadcast(plan), Seq("source"))
      .withColumn("keep",
        (pmod(col("h"), lit(MIX_THRESH_SCALE)) < col("thresh")).cast("long"))
      .groupBy("source")
      .agg(max(col("w")).as("weight"),
        max(col("t_tokens")).as("t_tokens"),
        max(col("target_tokens")).as("target_tokens"),
        max(col("n_epochs")).as("n_epochs"),
        sum(col("keep")).as("n_docs_kept"),
        sum(col("keep") * col("n_tokens")).as("kept_tokens"))
      .orderBy("source")
  }

  lazy val mixtureSampleSql: String =
    s"""WITH docs AS (SELECT source,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |    CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT) AS h
      |  FROM documents),
      |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
      |    (CAST(substr(source, 4) AS BIGINT) % 6) * 15 + 10 AS w
      |  FROM docs GROUP BY source),
      |ws AS (SELECT CAST(sum(w) AS BIGINT) AS w_sum FROM tot),
      |pl AS (SELECT source, t_tokens, w,
      |    ($MIX_BUDGET_TOKENS * w) // w_sum AS target_tokens
      |  FROM tot CROSS JOIN ws),
      |pl2 AS (SELECT *,
      |    least($MIX_THRESH_SCALE, CAST(floor(
      |      ${MIX_THRESH_SCALE}.0 * target_tokens / greatest(t_tokens, 1)) AS BIGINT))
      |      AS thresh,
      |    CASE WHEN target_tokens > t_tokens
      |         THEN (target_tokens + t_tokens - 1) // t_tokens ELSE 1 END AS n_epochs
      |  FROM pl)
      |SELECT d.source, max(w) AS weight, max(t_tokens) AS t_tokens,
      |  max(target_tokens) AS target_tokens, max(n_epochs) AS n_epochs,
      |  CAST(sum(CASE WHEN d.h % $MIX_THRESH_SCALE < thresh THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_docs_kept,
      |  CAST(sum(CASE WHEN d.h % $MIX_THRESH_SCALE < thresh THEN d.n_tokens
      |           ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM docs d JOIN pl2 USING (source)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --------------------------------------------- quality-quantile gate
  /** p08: per-source quality-quantile gating — the adaptive version of a
    * fixed quality threshold: "drop each source's worst quartile". A
    * global cutoff over-prunes clean sources and under-prunes noisy ones;
    * per-source quantiles track each source's own distribution (the
    * CCNet bucketing idea applied as a gate).
    *
    * The quantile is computed EXACTLY but scale-correctly: quality lives
    * in [0, 1], so scores quantize to [[QGATE_BINS]] integer bins and the
    * Q1 threshold is the first bin whose cumulative count reaches 25% —
    * a histogram CDF walk. Unlike `percentile()` (which buffers every
    * value per group — q35 keeps that surface for the small events
    * table), the histogram is a partial-aggregated hash rollup of ≤
    * (sources × bins) rows, the CDF window sorts ≤ bins rows per source,
    * and the gate is a broadcast join back — nothing buffers the corpus
    * anywhere, at any scale. All threshold math is exact integers
    * (cum·4 ≥ total), and the per-row quality double is the t03 formula
    * already proven bit-identical cross-engine.
    */
  val QGATE_BINS = 1000

  def qualityGate(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("source"),
        floor(lit(QGATE_BINS.toDouble) *
          TextFunctions.qualityScore(col("text"), TextOps.stopwords))
          .cast("long").as("qbin"))
    val hist = scored.groupBy("source", "qbin").agg(count(lit(1)).as("c"))
    val wCdf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("qbin"))
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val thr = hist
      .withColumn("cum", sum(col("c")).over(wCdf))
      .withColumn("tot", sum(col("c")).over(wTot))
      .filter(col("cum") * 4 >= col("tot"))
      .groupBy("source").agg(min(col("qbin")).as("q1_bin"))
    scored.join(broadcast(thr), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("qbin") >= col("q1_bin")).cast("long")).as("n_kept"),
        max(col("q1_bin")).as("q1_bin"))
      .orderBy("source")
  }

  lazy val qualityGateSql: String =
    s"""WITH t AS (SELECT source, text,
      |    string_split(trim(lower(text)), ' ') AS ltoks FROM documents),
      |q AS (SELECT source, CAST(floor($QGATE_BINS.0 *
      |    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      |     * (1.0 - CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |         / greatest(length(text), 1))
      |     * (1.0 - 0.5 * CAST(len(list_filter(ltoks,
      |           x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE)
      |         / greatest(len(ltoks), 1)))) AS BIGINT) AS qbin
      |  FROM t),
      |h AS (SELECT source, qbin, count(*) AS c FROM q GROUP BY 1, 2),
      |cdf AS (SELECT source, qbin, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY qbin) AS cum,
      |    sum(c) OVER (PARTITION BY source) AS tot
      |  FROM h),
      |thr AS (SELECT source, min(qbin) AS q1_bin FROM cdf
      |        WHERE cum * 4 >= tot GROUP BY source)
      |SELECT q.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN q.qbin >= thr.q1_bin THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  max(thr.q1_bin) AS q1_bin
      |FROM q JOIN thr USING (source)
      |GROUP BY q.source ORDER BY q.source""".stripMargin

  // ------------------------------------------------- curriculum ordering
  /** p09: curriculum ordering — the dataloader-facing global training
    * order: highest-quality documents first (quality decile descending),
    * shuffled deterministically within a decile by content hash. The
    * output is a total epoch rank over the whole corpus — the one thing a
    * naive implementation writes as `row_number() OVER (ORDER BY ...)`,
    * i.e. a single-partition window that serializes 100 TB through one
    * task.
    *
    * Scale shape — the epoch rank is the [[SlicedPrefix]] rank over
    * slices contiguous in the order key (bucket DESC, h, doc_id):
    * `(9 − bucket) · HSLICES + h div (2^60 / HSLICES)` (baseHash is 15
    * hex digits, so h < 2^60 exactly, and h is uniform, so slices
    * balance), ≤40 values. Quality deciles reuse t03's hash-green score,
    * so `floor(quality·10)` is bit-identical on both engines; the oracle
    * states the single-window form, value-identical by construction.
    */
  val CURR_HSLICES = 4 // per quality decile: 10 buckets x 4 = 40 slices

  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val hWidth = (1L << 60) / CURR_HSLICES
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        least(floor(TextFunctions.qualityScore(col("text"), TextOps.stopwords)
          * 10).cast("long"), lit(9L)).as("bucket"),
        Dedup.baseHash(col("text")).as("h"))
      .withColumn("slice",
        ((lit(9L) - col("bucket")) * CURR_HSLICES + expr(s"h div $hWidth"))
          .cast("int"))
    SlicedPrefix(docs, Seq("slice"), Seq(SlicedPrefix.Run("epoch_order",
        desc = false, col("bucket").desc, col("h"), col("doc_id"))))
      .select("doc_id", "bucket", "epoch_order")
      .orderBy("epoch_order")
  }

  lazy val curriculumOrderSql: String =
    """WITH m AS (SELECT doc_id, text,
      |    string_split(trim(lower(text)), ' ') AS ltoks,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio
      |  FROM documents),
      |q AS (SELECT doc_id,
      |    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * (1.0 - punct_ratio))
      |      * (1.0 - 0.5 * (CAST(len(list_filter(ltoks, x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE)
      |        / greatest(len(ltoks), 1))) AS quality,
      |    CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT) AS h
      |  FROM m),
      |b AS (SELECT doc_id, least(CAST(floor(quality * 10) AS BIGINT), 9) AS bucket, h
      |  FROM q)
      |SELECT doc_id, bucket,
      |  row_number() OVER (ORDER BY bucket DESC, h, doc_id) AS epoch_order
      |FROM b ORDER BY epoch_order""".stripMargin

  // ------------------------------------------------ rule-gated snapshot
  /** p10: rule-gated corpus snapshot — p01's composition with the t13
    * Gopher conjunction as the admission gate instead of the bare
    * token-count: rule gate → exact dedup (min-id per content hash) →
    * per-(source, lang) report. The gate frame is t13's minus its
    * terminal sort (shared via TextOps.gopherFrame, so the two can never
    * drift); everything downstream is the p01 exact-dedup shape — the
    * shuffle carries (hash, id), never bodies.
    */
  def gopherCuration(s: SparkSession, d: String): DataFrame = {
    val gated = TextOps.gopherFrame(s, d)
      .filter(col("gopher_pass") === 1).select("doc_id")
    val docs = Tables.documents(s, d).join(gated, "doc_id")
    val keep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("source", "lang")
  }

  lazy val gopherCurationSql: String =
    s"""WITH ${TextOps.gopherMeasuresCteSql},
      |g AS (SELECT doc_id FROM gop_m WHERE ${TextOps.gopherPassSql}),
      |dd AS (SELECT documents.* FROM documents JOIN g USING (doc_id)),
      |keep AS (SELECT min(doc_id) AS doc_id FROM dd GROUP BY md5(text)),
      |x AS (SELECT dd.* FROM dd JOIN keep USING (doc_id))
      |SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM x GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // --------------------------------------------------- dataset profile
  /** p12: the dataset card — the one-page corpus profile every published
    * training set ships (HuggingFace dataset cards, Dolma/FineWeb stats
    * blocks): corpus totals, per-language composition, exact-duplicate
    * rate, and the Gopher-gate pass count, as one (metric, value) table.
    * Composes the already-verified measures (t13's gopherFrame, t04's
    * normalization fingerprint) rather than re-deriving them.
    *
    * All values are exact longs (counts, sums, an integer-div mean), so
    * the oracle hash-matches with no float discipline needed. Scale
    * shape: four independent partial-aggregated passes over the narrow
    * columns each needs (no joins except two 1-row broadcasts for the
    * derived dup-count), union of tiny frames, one sort of ~tens of
    * rows. Every pass is the map-side-combined aggregate shape that
    * parallelizes by partition count.
    */
  def datasetProfile(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val basic = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
    val basicKv = basic.selectExpr(
      "stack(6, " +
        "'n_docs', n_docs, 'n_sources', n_sources, 'n_langs', n_langs, " +
        "'total_chars', total_chars, 'total_tokens', total_tokens, " +
        "'mean_doc_tokens_x1000', (total_tokens * 1000) div n_docs" +
        ") AS (metric, value)")
    // t04's normalization fingerprint = the d01 exact-dup identity
    val distinctDocs = docs
      .select(md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
      .agg(countDistinct(col("fp")).as("v"))
    val dupKv = basic.crossJoin(broadcast(distinctDocs)).select(
      lit("exact_dup_docs").as("metric"), (col("n_docs") - col("v")).as("value"))
    val distinctKv = distinctDocs
      .select(lit("distinct_docs").as("metric"), col("v").as("value"))
    val gopherKv = TextOps.gopherFrame(s, d)
      .agg(sum(col("gopher_pass").cast("long")).as("value"))
      .select(lit("gopher_pass_docs").as("metric"), col("value"))
    // coalesce matches DuckDB's NULL-ignoring concat: a NULL lang becomes
    // one deterministic literal row on BOTH engines instead of Spark
    // null-propagating to a NULL metric key. The sentinel is '<null>'
    // (angle brackets cannot appear in a lang code), NOT '' — with ''
    // a NULL lang and an empty-string lang would collide on the same
    // metric key and ORDER BY metric would no longer be a total order.
    val perLangKv = docs.groupBy("lang").agg(count(lit(1)).as("value"))
      .select(concat(lit("docs_lang_"), coalesce(col("lang"), lit("<null>"))).as("metric"),
        col("value"))
    basicKv.unionByName(distinctKv).unionByName(dupKv)
      .unionByName(gopherKv).unionByName(perLangKv)
      .orderBy("metric")
  }

  lazy val datasetProfileSql: String =
    s"""WITH ${TextOps.gopherMeasuresCteSql},
      |tc AS (SELECT doc_id, lang, source, n_chars,
      |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      |  FROM documents)
      |SELECT metric, value FROM (
      |  SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM tc
      |  UNION ALL SELECT 'n_sources', CAST(count(DISTINCT source) AS BIGINT) FROM tc
      |  UNION ALL SELECT 'n_langs', CAST(count(DISTINCT lang) AS BIGINT) FROM tc
      |  UNION ALL SELECT 'total_chars', CAST(sum(n_chars) AS BIGINT) FROM tc
      |  UNION ALL SELECT 'total_tokens', CAST(sum(n_words) AS BIGINT) FROM gop_m
      |  UNION ALL SELECT 'mean_doc_tokens_x1000',
      |    (CAST(sum(n_words) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) FROM gop_m
      |  UNION ALL SELECT 'distinct_docs', CAST(count(DISTINCT fp) AS BIGINT) FROM tc
      |  UNION ALL SELECT 'exact_dup_docs',
      |    CAST(count(*) AS BIGINT) - CAST(count(DISTINCT fp) AS BIGINT) FROM tc
      |  UNION ALL SELECT 'gopher_pass_docs',
      |    CAST(count(*) FILTER (${TextOps.gopherPassSql}) AS BIGINT) FROM gop_m
      |  UNION ALL SELECT concat('docs_lang_', coalesce(lang, '<null>')), CAST(count(*) AS BIGINT)
      |    FROM tc GROUP BY lang)
      |ORDER BY metric""".stripMargin

  // --------------------------------------------------- DSIR resampling
  /** Hashed-feature buckets for the DSIR importance estimate. 8192 buckets
    * keeps both n-gram tables broadcast-size (≤ 8192 longs each) at ANY
    * corpus scale — the hashing is exactly what makes DSIR tractable at
    * 100 TB: the target/background distributions are fixed-size sketches,
    * not vocabularies.
    */
  val DSIR_BUCKETS = 8192L

  /** Admit the top 1/DSIR_KEEP_FRACTION of documents by importance. */
  val DSIR_KEEP_FRACTION = 5L

  /** p13: data selection via importance resampling (DSIR, Xie et al. 2023,
    * arXiv:2302.03169): score every document by how much more likely its
    * hashed-unigram profile is under a TARGET distribution (here: the
    * English-language slice — the "domain we want more of") than under the
    * whole-corpus background, and admit the top 20%.
    *
    * Published DSIR sums log-ratios of hashed n-gram probabilities; logs
    * pull in libm (engine-divergent in the last ulp — the t15 lesson), so
    * each bucket's weight is the Laplace-smoothed likelihood ratio
    * quantized to floor(10^6·(t+1)/(s+1)) — one IEEE multiply+divide+floor
    * per DISTINCT bucket (≤ 8192 of them), after which every per-document
    * score is an exact integer sum ÷ token count in 64-bit fixed point:
    * order-independent, hash-stable, and rank-equivalent to the ratio form
    * for the gate's purpose.
    *
    * Scale shape: one token explode (the same pass t01/t07 price), a
    * groupBy onto ≤ 8192 buckets (partial-agg collapses it map-side), a
    * BROADCAST join of the 8192-row weight table back onto the token
    * stream, one (doc_id) aggregation of longs, and a global top-n via
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps + one
    * driver merge of n rows, never a global sort). The only driver scalar
    * is the corpus count that sizes the cut.
    */
  def dsirResample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .withColumn("b", Dedup.baseHash(col("tok")) % DSIR_BUCKETS)
    // BOTH distributions from one conditional aggregation over one token
    // pass (a separate filtered groupBy would re-execute the corpus
    // explode; conditional count 0 ≡ the left-join's coalesce(t_n, 0))
    val w = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("s_n"),
        count(when(col("lang") === "en", 1)).as("t_n"))
      .select(col("b"),
        floor(lit(1000000.0) * (col("t_n") + lit(1L)) /
          (col("s_n") + lit(1L))).cast("long").as("w"))
    val scored = toks.join(broadcast(w), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("wsum"), count(lit(1)).as("n_tok"))
      .select(col("doc_id"), expr("(1000 * wsum) div n_tok").as("score_fp"))
    // bounded scalar; limit() takes an Int, so past ~10.7B documents the
    // cut must move to a sort-rank form — fail loudly instead of letting
    // the Int truncation silently mangle the admit count
    val nAdmitL = docs.count() / DSIR_KEEP_FRACTION
    require(nAdmitL <= Int.MaxValue,
      s"dsirResample admit count $nAdmitL exceeds Int.MaxValue; " +
        "use a rank-based cut at this corpus size")
    val nAdmit = nAdmitL.toInt
    scored.join(docs.select(col("doc_id"), col("source"), col("lang")), "doc_id")
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(nAdmit)
      .select(col("doc_id"), col("source"), col("lang"), col("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id"))
  }

  /** p13 oracle: identical buckets, smoothing, quantization, and cut. */
  val dsirResampleSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |           FROM documents),
       |h AS (SELECT doc_id, lang,
       |        CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT)
       |          % $DSIR_BUCKETS AS b FROM t),
       |bg AS (SELECT b, CAST(count(*) AS BIGINT) AS s_n FROM h GROUP BY b),
       |tg AS (SELECT b, CAST(count(*) AS BIGINT) AS t_n FROM h
       |       WHERE lang = 'en' GROUP BY b),
       |w AS (SELECT bg.b,
       |        CAST(floor(1000000.0 * (coalesce(tg.t_n, 0) + 1) /
       |          (bg.s_n + 1)) AS BIGINT) AS w
       |      FROM bg LEFT JOIN tg ON tg.b = bg.b),
       |sc AS (SELECT h.doc_id,
       |         (1000 * CAST(sum(w.w) AS BIGINT)) //
       |           CAST(count(*) AS BIGINT) AS score_fp
       |       FROM h JOIN w ON w.b = h.b GROUP BY h.doc_id)
       |SELECT d.doc_id, d.source, d.lang, sc.score_fp
       |FROM sc JOIN documents d ON d.doc_id = sc.doc_id
       |QUALIFY row_number() OVER (ORDER BY sc.score_fp DESC, sc.doc_id) <=
       |  (SELECT count(*) // $DSIR_KEEP_FRACTION FROM documents)
       |ORDER BY sc.score_fp DESC, sc.doc_id""".stripMargin

  // ----------------------------------------------- robust outlier gate
  /** p16: MAD-based robust outlier gate — the anomaly screen a curation
    * pipeline runs over numeric telemetry before trusting it (median ±
    * k·MAD is the standard robust z-score; unlike mean/stddev gates, one
    * corrupted batch cannot drag the threshold toward itself because both
    * location and scale estimators have a 50% breakdown point). Values are
    * quantized to integer cents first, so every derived quantity (medians
    * interpolate on the ½-cent grid, deviations on the ¼-cent grid) is an
    * exactly-representable double and the flag comparison `dev > 3·MAD`
    * hash-matches the oracle — the q35 percentile discipline extended two
    * derivation levels down.
    *
    * Plan shape: three thin aggregates over a two-column projection (med →
    * MAD → flag counts), each per-type statistic broadcast back onto the
    * scan — exact medians at 100 TB would swap in an approx/histogram
    * percentile (q66) without touching the gate logic.
    */
  def robustOutlierGate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"),
      floor(col("value") * 100.0).cast("long").as("cents"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("cents") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        max(col("med")).as("med_cents"), max(col("mad")).as("mad_cents"))
      .orderBy("event_type")
  }

  val robustOutlierGateSql: String =
    """WITH ev AS (SELECT event_type,
      |    CAST(floor(value * 100.0) AS BIGINT) AS cents FROM events),
      |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
      |        FROM ev GROUP BY 1),
      |dev AS (SELECT ev.event_type, abs(cents - med) AS dev, med
      |        FROM ev JOIN med USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |        FROM dev GROUP BY 1)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  max(med) AS med_cents, max(mad) AS mad_cents
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------- p17 PPS sampling
  /** Target sample size for p17 (the stride is `total_weight div` this). */
  private[graft] val PPS_N = 256L
  /** Hash-range bin width for the sliced prefix sum: 2^52 ⇒ 256 bins of
    * the 2^60 hash domain — the q47/p09 discipline (never a global
    * unpartitioned window over the corpus).
    */
  private val PPS_BIN_W = 4503599627370496L // 2^52

  /** p17: weighted systematic (PPS) sampling — select documents with
    * probability proportional to size (`n_chars`), deterministically and
    * in pure int64 arithmetic. The corpus is laid on a line in hash order
    * (md5-60 of doc_id = a fixed random permutation), each document
    * occupying a segment of length `w`; a stride `S = W div N` then picks
    * every document whose segment contains a multiple of S:
    * `hits = (P+w) div S − P div S` over the exclusive prefix sum P.
    * Inclusion probability is exactly min(1, w/S) and total hits
    * telescope to exactly `W div S` — pinned in CurationOpsSpec, the
    * property "random sample of ~N docs biased by length" actually needs.
    * Oversized docs (w > S) surface `hits > 1` as their exact expected
    * multiplicity, the standard PPS-with-multiplicity treatment.
    *
    * vs p07 (mixture rates per source) and p04 (per-source downsample):
    * p17 is ITEM-level probability-proportional-to-size selection with
    * exact Horvitz–Thompson multiplicities — the "sample a ~fixed token
    * budget, long docs proportionally more likely" curation primitive.
    *
    * Scale: P and W are the [[SlicedPrefix]] exclusive running sum and
    * total of `w` over hash-range bins (≤256 of them, bounded by
    * construction); no products anywhere (stride division instead of
    * `n·P` cross-multiplication), so nothing overflows at any corpus
    * size (P ≤ W = total corpus chars ≪ 2^63).
    */
  def ppsSample(s: SparkSession, d: String): DataFrame =
    ppsSampleOf(Tables.documents(s, d), PPS_N)

  /** p17 over any (doc_id, n_chars) frame with a chosen target size
    * (spec-injectable face).
    */
  def ppsSampleOf(docs: DataFrame, n: Long): DataFrame = {
    val h = docs.select(col("doc_id"),
        col("n_chars").cast("long").as("w"),
        Dedup.baseHash(col("doc_id").cast("string")).as("hv"))
      .withColumn("_pps_bin", expr(s"hv div $PPS_BIN_W"))
    SlicedPrefix(h, Seq("_pps_bin"),
        Seq(SlicedPrefix.Run("pre", desc = false, col("hv"), col("doc_id"))),
        weight = Some(col("w")), exclusive = true, total = Some("tot"))
      .withColumn("s", greatest(lit(1L), expr(s"tot div $n")))
      .withColumn("hits", expr("((pre + w) div s) - (pre div s)"))
      .filter(col("hits") >= 1)
      .select(col("doc_id"), col("w"), col("hits"))
      .orderBy("doc_id")
  }

  val ppsSampleSql: String =
    s"""WITH h AS (SELECT doc_id, n_chars AS w,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM documents),
      |p AS (SELECT doc_id, w,
      |    coalesce(sum(w) OVER (ORDER BY hv, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      |  FROM h),
      |t AS (SELECT greatest(1, CAST(sum(w) AS BIGINT) // $PPS_N) AS s FROM h)
      |SELECT doc_id, w, CAST(((pre + w) // s) - (pre // s) AS BIGINT) AS hits
      |FROM p, t WHERE ((pre + w) // s) - (pre // s) >= 1
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- temperature mixture plan
  /** Docs the temperature-flattened plan samples (the budget the shares
    * apply to).
    */
  val TEMP_TARGET_DOCS = 1000L

  /** p18: temperature-flattened language mixture (the mT5/XLM-R α=0.5
    * exponent, Xue et al. 2021 / Conneau et al. 2020) — sample languages
    * proportionally to mass^α instead of mass, so head languages are
    * down-weighted and tail languages up-weighted without ever being
    * starved. The standard multilingual-pretraining rebalance; vs p07
    * (externally-supplied per-source rates) this computes the plan FROM
    * the corpus under the published exponent.
    *
    * Determinism: α = ½ is the one exponent that needs no libm — IEEE
    * sqrt is correctly rounded in both engines, and the only other float
    * op is one multiply+floor (the s01/q55 fixed-chain discipline).
    * Weights, shares and planned counts are then exact integer div.
    *
    * Overflow bound: mass is carried in KB units (`div 1024` at the
    * language level), so `1e6 · mass_kb` stays under 2^63 through ~9 EB
    * of text, and `1e3·sqrt(mass_kb)` keeps the weight products far
    * below that (the p17 no-products stance).
    *
    * Scale shape: one column-pruned scan → a |langs|-row aggregate
    * (map-side combined); the grand totals come from the p07 pattern —
    * a 1-row aggregate cross-joined back (broadcast), never an
    * unpartitioned corpus window.
    */
  def temperatureMixture(s: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(n_chars) div 1024").as("mass_kb"))
      .withColumn("w",
        floor(lit(1000.0) * sqrt(col("mass_kb").cast("double"))).cast("long"))
    val tot = m.agg(sum(col("w")).as("w_sum"), sum(col("mass_kb")).as("kb_sum"))
    m.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("mass_kb"),
        expr("(1000000 * mass_kb) div kb_sum").as("natural_ppm"),
        expr("(1000000 * w) div w_sum").as("target_ppm"),
        expr(s"($TEMP_TARGET_DOCS * w) div w_sum").as("planned_docs"))
      .orderBy("lang")
  }

  val temperatureMixtureSql: String =
    s"""WITH m AS (SELECT lang, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) // 1024 AS mass_kb
      |  FROM documents GROUP BY lang),
      |w AS (SELECT *, CAST(floor(1000.0 * sqrt(CAST(mass_kb AS DOUBLE)))
      |    AS BIGINT) AS w FROM m),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_sum,
      |    CAST(sum(mass_kb) AS BIGINT) AS kb_sum FROM w)
      |SELECT lang, n_docs, mass_kb,
      |  (1000000 * mass_kb) // kb_sum AS natural_ppm,
      |  (1000000 * w) // w_sum AS target_ppm,
      |  ($TEMP_TARGET_DOCS * w) // w_sum AS planned_docs
      |FROM w CROSS JOIN t ORDER BY lang""".stripMargin

  // --------------------------------------- p27 temperature sweep
  /** The α grid of the p27 sweep, in milli (α = alpha_milli/1000):
    * natural sampling (1.0), the mT5/XLM-R default (0.5), heavier
    * flattening (0.25), and uniform (0).
    */
  val TEMP_ALPHAS_MILLI: Seq[Long] = Seq(1000L, 500L, 250L, 0L)

  /** p27: the temperature TUNING SWEEP — p18 answers "what does α = ½ do
    * to the mixture"; p27 answers the question that comes first: "how
    * flat should we go", by pricing the whole α grid off ONE corpus
    * scan (the s25/d20 sweep discipline applied to mixtures). Per
    * (α, lang): the budget share in exact ppm and the planned document
    * count under [[TEMP_TARGET_DOCS]].
    *
    * Exponents stay libm-free: mass^1 is exact, mass^½ is p18's one
    * IEEE sqrt + floor, mass^¼ is two CHAINED correctly-rounded IEEE
    * sqrts (composition is deterministic on both engines — no pow, no
    * log/exp), and mass^0 is the uniform constant. The per-lang mass
    * table is a ≤|langs|-row aggregate checkpointed once, so the four
    * α projections never re-scan the corpus; per-α totals are a 4-row
    * broadcast.
    */
  def temperatureSweep(s: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(n_chars) div 1024").as("mass_kb"))
      .localCheckpoint(true) // ≤|langs| rows; four α faces read it
    val withW = TEMP_ALPHAS_MILLI.map { a =>
      val w = a match {
        case 1000L => col("mass_kb") * lit(1000L)
        case 500L => floor(lit(1000.0) *
          sqrt(col("mass_kb").cast("double"))).cast("long")
        case 250L => floor(lit(1000.0) *
          sqrt(sqrt(col("mass_kb").cast("double")))).cast("long")
        case 0L => lit(1000L) // uniform: every lang weight 1.000
        // fail loud, not uniform-by-default: a new α added to the grid
        // without a weight formula here (and in the SQL CASE) would
        // otherwise silently sample uniformly
        case other => throw new IllegalArgumentException(
          s"temperatureSweep: no weight formula for alpha_milli=$other")
      }
      m.select(lit(a).as("alpha_milli"), col("lang"), col("n_docs"),
        col("mass_kb"), w.as("w"))
    }.reduce(_ unionByName _)
    val tot = withW.groupBy(col("alpha_milli")).agg(sum(col("w")).as("w_sum"))
    withW.join(broadcast(tot), "alpha_milli")
      .select(col("alpha_milli"), col("lang"), col("n_docs"), col("mass_kb"),
        expr("(1000000 * w) div w_sum").as("target_ppm"),
        expr(s"($TEMP_TARGET_DOCS * w) div w_sum").as("planned_docs"))
      .orderBy("alpha_milli", "lang")
  }

  /** p27 oracle: the α grid as an unnest; identical exponent chain. */
  val temperatureSweepSql: String =
    s"""WITH m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) // 1024 AS mass_kb
      |  FROM documents GROUP BY lang),
      |w AS (SELECT m.*, a.alpha_milli,
      |    CASE a.alpha_milli
      |      WHEN 1000 THEN mass_kb * 1000
      |      WHEN 500 THEN CAST(floor(1000.0 * sqrt(CAST(mass_kb AS DOUBLE))) AS BIGINT)
      |      WHEN 250 THEN CAST(floor(1000.0 * sqrt(sqrt(CAST(mass_kb AS DOUBLE)))) AS BIGINT)
      |      WHEN 0 THEN 1000
      |      -- fail-loud mirror of the Scala match's IllegalArgumentException:
      |      -- without it, an alpha added only to this grid yields NULL w,
      |      -- which sum() silently SKIPS — wrong weights, no error
      |      ELSE error('temperatureSweep oracle: no weight formula for alpha_milli') END AS w
      |  FROM m CROSS JOIN (SELECT unnest([1000, 500, 250, 0]) AS alpha_milli) a),
      |t AS (SELECT alpha_milli, CAST(sum(w) AS BIGINT) AS w_sum
      |  FROM w GROUP BY 1)
      |SELECT CAST(w.alpha_milli AS BIGINT) AS alpha_milli, lang, n_docs, mass_kb,
      |  (1000000 * w) // w_sum AS target_ppm,
      |  ($TEMP_TARGET_DOCS * w) // w_sum AS planned_docs
      |FROM w JOIN t USING (alpha_milli)
      |ORDER BY alpha_milli, lang""".stripMargin

  // --------------------------------------------- p20 contrastive pairs
  /** p20: contrastive training-pair export — turn the near-dup graph into
    * (anchor, positive, negative) triplets for embedding/retriever
    * training (the CCPairs/E5 recipe: near-duplicates are free paraphrase
    * positives; in-source non-duplicates are style-matched negatives,
    * harder than random). Positives: every non-root member of a ≥2-doc
    * near-dup component pairs with its component root (min doc_id) —
    * |component|−1 triplets, no quadratic pair explosion. Negatives: per
    * anchor, the same-source doc OUTSIDE the anchor's component that
    * minimizes the cross-engine hash of "anchor:candidate" — a
    * deterministic pseudo-random draw that never picks a paraphrase (the
    * split-leakage guarantee, applied to negative mining: a near-dup
    * negative would teach the model to push paraphrases apart).
    *
    * Scale shape: the component frame is d07's audited pipeline (capped
    * postings, long-only exchanges, O(log n) CC); positives are one
    * component-keyed join; negative mining is ONE corpus scan against the
    * broadcast anchor frame with a per-anchor argmin window (the s12
    * hard-negative shape — past broadcast reach it flips to a
    * source-keyed shuffle join, same plan family).
    */
  def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = leakageSafeSplitAssign(s, d)
      .select(col("doc_id"), col("source"), col("component"))
      .localCheckpoint(true) // CC lineage; read twice (anchors + candidates)
    val roots = a.groupBy("component")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("root"))
      .filter(col("n") >= 2)
    val pos = a.join(roots, "component")
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("anchor_id"), col("root").as("pos_id"),
        col("source"), col("component"))
    val cand = a.select(col("doc_id").as("neg_id"), col("source"),
      col("component").as("ccomp"))
    // argmin as AGGREGATION, not a row_number window (round-16
    // optimization, guide §2.3 "aggregate before you shuffle"): the
    // former window exchanged the ENTIRE anchor × same-source candidate
    // join by anchor_id and sorted it to keep one row; min(struct(hash,
    // neg_id)) picks the identical row (same (hash, neg_id) ascending
    // order) with map-side partials, so only |anchors| rows reach the
    // exchange instead of the full cross-candidate frame — the win
    // grows with source size. anchor_id determines (pos_id, source)
    // (one root per component), so they ride as grouping keys.
    cand.join(broadcast(pos), Seq("source"))
      .filter(col("ccomp") =!= col("component"))
      .groupBy(col("anchor_id"), col("pos_id"), col("source"))
      .agg(min(struct(Dedup.baseHash(concat_ws(":",
          col("anchor_id").cast("string"), col("neg_id").cast("string")))
          .as("h"),
        col("neg_id"))).as("m"))
      .select(col("anchor_id"), col("pos_id"), col("m.neg_id").as("neg_id"),
        col("source"))
      .orderBy("anchor_id")
  }

  /** p20 oracle: the shared d07 CC chain, root-pairing, and the identical
    * hash-argmin negative draw.
    */
  lazy val contrastivePairsSql: String =
    s"""${Dedup.ccCtes},
      |labels AS (SELECT id, min(lbl) AS lbl FROM cc GROUP BY id),
      |a AS MATERIALIZED (
      |      SELECT d.doc_id, d.source, coalesce(l.lbl, d.doc_id) AS component
      |      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
      |roots AS (SELECT component, min(doc_id) AS root FROM a
      |          GROUP BY component HAVING count(*) >= 2),
      |pos AS MATERIALIZED (
      |        SELECT a.doc_id AS anchor_id, r.root AS pos_id,
      |               a.source, a.component
      |        FROM a JOIN roots r ON r.component = a.component
      |        WHERE a.doc_id <> r.root),
      |neg AS (SELECT anchor_id, pos_id, neg_id, source FROM (
      |  SELECT p.anchor_id, p.pos_id, c.doc_id AS neg_id, p.source,
      |    row_number() OVER (PARTITION BY p.anchor_id ORDER BY
      |      CAST(concat('0x', substr(md5(
      |        CAST(p.anchor_id AS VARCHAR) || ':' || CAST(c.doc_id AS VARCHAR)
      |      ), 1, 15)) AS BIGINT), c.doc_id) AS rn
      |  FROM pos p JOIN a c ON c.source = p.source
      |    AND c.component <> p.component) WHERE rn = 1)
      |SELECT anchor_id, pos_id, neg_id, source FROM neg ORDER BY anchor_id"""
      .stripMargin

  // -------------------------------------- p21 dedup-aware mixture shift
  /** p21: dedup-aware mixture correction — the allocation bias every raw
    * token-mass mixture (p07) carries: a source padded with duplicated
    * content claims budget for tokens the model effectively sees many
    * times. Per source this reports the raw vs exact-dup-collapsed
    * (keeper = min doc_id per content hash) document and token masses,
    * the duplicate-inflation ppm, and the proportional token-budget
    * allocation under BOTH masses — `shift` = dedup-based minus raw-based
    * target is exactly the budget a duplicate-heavy source loses once the
    * mixture weighs unique mass (what Gopher/FineWeb-style pipelines do
    * by deduping BEFORE mixing; this operator quantifies why, per
    * source, without materializing the deduped corpus).
    *
    * Scale shape: one scan; keeper-marking is a content-hash-partitioned
    * row_number (group size = duplicate multiplicity, never corpus);
    * per-source conditional sums collapse map-side into a |sources|-row
    * aggregate; the two grand totals ride one broadcast 1-row crossJoin.
    * All arithmetic is exact integer div.
    */
  def dedupAwareMixture(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      .withColumn("keeper",
        (row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))) === 1)
          .cast("long"))
    val per = docs.groupBy("source")
      .agg(count(lit(1)).as("raw_docs"),
        sum(col("keeper")).as("uniq_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(col("keeper") * col("n_tokens")).as("uniq_tokens"))
    per.crossJoin(broadcast(per.agg(
        sum(col("raw_tokens")).as("tot_raw"),
        sum(col("uniq_tokens")).as("tot_uniq"))))
      .select(col("source"), col("raw_docs"), col("uniq_docs"),
        col("raw_tokens"), col("uniq_tokens"),
        expr("((raw_tokens - uniq_tokens) * 1000000) div raw_tokens")
          .as("dup_ppm"),
        expr(s"($MIX_BUDGET_TOKENS * raw_tokens) div tot_raw")
          .as("target_raw"),
        expr(s"($MIX_BUDGET_TOKENS * uniq_tokens) div tot_uniq")
          .as("target_dedup"))
      .withColumn("shift", col("target_dedup") - col("target_raw"))
      .orderBy("source")
  }

  /** p21 oracle: identical keeper window, conditional masses, and integer
    * allocation arithmetic.
    */
  lazy val dedupAwareMixtureSql: String =
    s"""WITH docs AS (SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |    md5(text) AS h
      |  FROM documents),
      |k AS (SELECT *, CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
      |                     THEN 1 ELSE 0 END AS keeper FROM docs),
      |per AS (SELECT source, count(*) AS raw_docs,
      |    CAST(sum(keeper) AS BIGINT) AS uniq_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
      |    CAST(sum(keeper * n_tokens) AS BIGINT) AS uniq_tokens
      |  FROM k GROUP BY source),
      |tot AS (SELECT CAST(sum(raw_tokens) AS BIGINT) AS tot_raw,
      |               CAST(sum(uniq_tokens) AS BIGINT) AS tot_uniq FROM per)
      |SELECT source, CAST(raw_docs AS BIGINT) AS raw_docs, uniq_docs,
      |  raw_tokens, uniq_tokens,
      |  ((raw_tokens - uniq_tokens) * 1000000) // raw_tokens AS dup_ppm,
      |  ($MIX_BUDGET_TOKENS * raw_tokens) // tot_raw AS target_raw,
      |  ($MIX_BUDGET_TOKENS * uniq_tokens) // tot_uniq AS target_dedup,
      |  ($MIX_BUDGET_TOKENS * uniq_tokens) // tot_uniq
      |    - ($MIX_BUDGET_TOKENS * raw_tokens) // tot_raw AS shift
      |FROM per CROSS JOIN tot ORDER BY source""".stripMargin

  // ------------------------------------------------------ shard manifest
  /** Output shards for [[shardManifest]]. */
  val N_SHARDS = 8

  /** p24: token-balanced output sharding — the last step before a corpus
    * ships to trainers: assign every document to one of [[N_SHARDS]]
    * output shards so shard token masses stay near-equal (data-parallel
    * readers stall on the fattest shard, so balance IS throughput), and
    * emit the per-shard manifest (doc/token masses + an id checksum) that
    * the training job validates against after download. Assignment is
    * deterministic: docs are globally ordered by (bpe-ish token count
    * DESC, doc_id) and dealt boustrophedon — pass k of [[N_SHARDS]] docs
    * deals left-to-right when k is even, right-to-left when odd — the
    * classic greedy-balance approximation that is also a pure function of
    * rank (reproducible, SQL-expressible, and re-runnable after appends).
    *
    * Scale shape: the global rank is the [[SlicedPrefix]] rank over
    * token-count bins, never one window task. The bin is `tok div 64`
    * clamped to 16383, so the bin frame has ≤16,384 rows whatever the
    * corpus. A bin's row_number runs in one task, so a pathologically
    * hot count (a boilerplate-dominated corpus) puts that whole count
    * through one sort; p24 has no hot-bin split, which keeps its plan
    * lazy and free of actions. The manifest rollup is [[N_SHARDS]] rows.
    */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    shardManifestOf(Tables.documents(s, d))

  /** p24 over any documents-shaped frame (spec-injectable face). */
  private[graft] def shardManifestOf(docs: DataFrame): DataFrame = {
    val N = N_SHARDS
    val d0 = docs.select(col("doc_id"),
      TextFunctions.bpeishTokenCount(col("text")).cast("long").as("tok"))
      // clamped value-range bin (the q47 _sgr_bin / p17 _pps_bin class):
      // ≤16,384 bins regardless of corpus size, monotone in tok. Docs
      // past the clamp (≥2^20 bpe-ish tokens) share the top bin's
      // partition — the same rare-tail argument as q47's clamp.
      .withColumn("_shard_bin", least(expr("tok div 64"), lit(16383L)))
    SlicedPrefix(d0, Seq("_shard_bin"), Seq(SlicedPrefix.Run(
        "r0", desc = true, col("tok").desc, col("doc_id"))), exclusive = true)
      .withColumn("pos", col("r0") % N)
      .withColumn("shard",
        when(expr(s"r0 div $N") % 2 === 0, col("pos"))
          .otherwise(lit(N - 1) - col("pos")))
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        max(col("tok")).as("max_tokens"),
        min(col("tok")).as("min_tokens"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("shard")
  }

  /** p24 oracle: the one-window formulation of the identical rank — the
    * decomposed rank equals it by construction (same total order).
    */
  lazy val shardManifestSql: String = {
    val N = N_SHARDS
    s"""WITH d AS (SELECT doc_id,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS tok
       |  FROM documents),
       |r AS (SELECT doc_id, tok,
       |    row_number() OVER (ORDER BY tok DESC, doc_id) - 1 AS r0 FROM d),
       |a AS (SELECT doc_id, tok,
       |    CASE WHEN (r0 // $N) % 2 = 0 THEN r0 % $N
       |         ELSE ${N - 1} - r0 % $N END AS shard FROM r)
       |SELECT CAST(shard AS INT) AS shard, count(*) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS total_tokens,
       |  CAST(max(tok) AS BIGINT) AS max_tokens,
       |  CAST(min(tok) AS BIGINT) AS min_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p24_shard_manifest" -> (shardManifest _),
    "p21_dedup_mixture" -> (dedupAwareMixture _),
    "p20_contrastive_pairs" -> (contrastivePairs _),
    "p18_temperature_mixture" -> (temperatureMixture _),
    "p17_pps_sample" -> (ppsSample _),
    "p16_outlier_gate" -> (robustOutlierGate _),
    "p15_leakage_safe_split" -> (leakageSafeSplit _),
    "p13_dsir_resample" -> (dsirResample _),
    "p12_dataset_profile" -> (datasetProfile _),
    "p10_gopher_curation" -> (gopherCuration _),
    "p09_curriculum" -> (curriculumOrder _),
    "p08_quality_gate" -> (qualityGate _),
    "p07_mixture_sample" -> (mixtureSample _),
    "p06_sequence_packing" -> (sequencePacking _),
    "p01_curation_pipeline" -> (curate _),
    "p02_decontamination" -> (decontamination _),
    "p25_contamination_report" -> (contaminationReport _),
    "p27_temperature_sweep" -> (temperatureSweep _),
    "p03_train_val_split" -> (trainValSplit _),
    "p04_source_downsample" -> (sourceDownsample _),
    "p05_curation_funnel" -> (curationFunnel _),
    "p11_curation_report" -> (curationReportUnified _))

  val oracles: Map[String, String] = Map(
    "p24_shard_manifest" -> shardManifestSql,
    "p21_dedup_mixture" -> dedupAwareMixtureSql,
    "p20_contrastive_pairs" -> contrastivePairsSql,
    "p18_temperature_mixture" -> temperatureMixtureSql,
    "p17_pps_sample" -> ppsSampleSql,
    "p16_outlier_gate" -> robustOutlierGateSql,
    "p15_leakage_safe_split" -> leakageSafeSplitSql,
    "p13_dsir_resample" -> dsirResampleSql,
    "p12_dataset_profile" -> datasetProfileSql,
    "p10_gopher_curation" -> gopherCurationSql,
    "p09_curriculum" -> curriculumOrderSql,
    "p08_quality_gate" -> qualityGateSql,
    "p07_mixture_sample" -> mixtureSampleSql,
    "p06_sequence_packing" -> sequencePackingSql,
    "p01_curation_pipeline" -> curateSql,
    "p02_decontamination" -> decontaminationSql,
    "p25_contamination_report" -> contaminationReportSql,
    "p27_temperature_sweep" -> temperatureSweepSql,
    "p03_train_val_split" -> trainValSplitSql,
    "p04_source_downsample" -> sourceDownsampleSql,
    "p05_curation_funnel" -> curationFunnelSql,
    "p11_curation_report" -> curationReportSql)
}
