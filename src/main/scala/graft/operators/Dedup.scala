package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (the whole point — these must survive 100 TB):
  *   - exact dedup: hash-groupBy on a 128-bit content hash — one shuffle of
  *     (hash, doc_id) pairs only, never the document bodies;
  *   - n-gram Jaccard: candidate pairs are generated ONLY within
  *     (lang, length-band) blocks via a shingle-equality join — never an
  *     all-pairs product. The shingle join shuffles (shingle, doc_id) pairs;
  *     stop-shingle posting lists (the quadratic skew risk) are capped at
  *     MAX_POSTING_LEN — dropped before pair emission, mirrored in the
  *     oracle, surfaced via stopShingles / the d08 histogram;
  *   - MinHash LSH: fixed-width signatures (SIG_N hashes) per doc, banded
  *     into BANDS buckets; candidates only within equal (band, bucket-key) —
  *     the standard sub-quadratic LSH shape. Signatures come from one
  *     explode + one codegen'd hash aggregate (no UDF, no interpreted
  *     higher-order functions);
  *   - SimHash: 60-bit fingerprint per doc via the same explode +
  *     bit-sum-aggregate shape;
  *   - survivor selection: near-dup pairs → connected components →
  *     min-id survivor per component (adaptive union-find / label
  *     propagation).
  */
object Dedup {

  // ------------------------------------------------------------ exact dedup
  /** Surviving doc_id per distinct content hash (keep the smallest id). */
  def dedupExactSurvivors(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  val dedupExactSurvivorsSql: String =
    """SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
      |ORDER BY doc_id""".stripMargin

  /** Per-source exact-dup stats: total docs vs distinct content hashes. */
  def dedupExactStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .orderBy("source")

  val dedupExactStatsSql: String =
    """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------- n-gram Jaccard
  /** Max docs a shingle may appear in before it is treated as a
    * stop-shingle and dropped from pair generation. A shingle in k docs
    * emits k(k-1)/2 pairs AND materializes a k-element aggregate row, so an
    * uncapped stop-shingle ("terms of service") is the one quadratic
    * blow-up in the pipeline at 100 TB. Dropping it costs almost no signal:
    * a shingle shared by >500 documents identifies boilerplate, not
    * near-duplication.
    */
  val MAX_POSTING_LEN = 500

  /** Near-duplicate pairs by word-3-gram Jaccard >= 0.1, blocked by
    * (lang, n_chars/100 band) with ADJACENT-band probing: each doc's
    * postings are emitted into probe bands {band, band+1} (standard
    * overlapping blocking), so two near-identical docs straddling a
    * 100-char boundary (99 vs 101 chars) still meet — under strict
    * blocking they'd land in different bands and never be compared. A
    * pair is emitted ONLY in the probe band equal to the larger of the
    * two docs' own bands, so same-band pairs (which co-occur in two probe
    * bands) are counted exactly once. Costs 2x posting volume, no extra
    * shuffles. The Jaccard test is pure integer arithmetic
    * (common*10 >= |union|) so the oracle hash-matches bit-exactly.
    */
  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsOn(docBase(s, d), MAX_POSTING_LEN)

  private def docBase(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        floor(col("n_chars") / 100).cast("int").as("band"), col("text"))

  /** Raw instance postings doubled into probe bands and windowed by the
    * blocking key — the ONE exchange the whole pair pipeline runs on.
    * Within each (lang, pband, sh) group, `first` marks the first
    * instance of each document (repeated shingles within a doc are
    * deduplicated HERE, inside the group's own sort, instead of a
    * separate corpus-wide (doc_id, sh) distinct exchange — one full
    * shuffle of the posting table saved), and `plen` is the group's
    * distinct-document posting length (an unordered whole-partition sum
    * sharing the same sort). Consumers derive posting groups AND per-doc
    * shingle counts from this one stream, so Spark's ReuseExchange keeps
    * the scan + tokenize + hash single-pass.
    */
  private def windowedPostings(base: DataFrame): DataFrame = {
    val posting = shingleTable(base, carry = Seq("lang", "band"),
        distinct = false, hashed = true)
      .withColumn("pband", explode(array(col("band"), col("band") + 1)))
    val wsh = Window.partitionBy("lang", "pband", "sh")
    posting
      // NOT pinned to explicit parallelism (unlike the g02/g06 pair
      // exchanges): an equality-gated A/B at sf0.1 priced an explicit
      // repartition(sp, lang, pband, sh) here at 0.97x — a wash — so
      // AQE keeps the coalescing call (consistent with the Bench.scala
      // advisory-size experiment). Recorded in OPTIMIZATION_r16.md.
      .withColumn("first", coalesce(
        lag(col("doc_id"), 1).over(wsh.orderBy(col("doc_id"))) =!= col("doc_id"),
        lit(true)))
      .withColumn("plen", sum(col("first").cast("long")).over(wsh))
  }

  /** Per-shingle posting groups with the stop-shingle cap applied BEFORE
    * collect_list: posting length is computed by a window over the SAME
    * keys the aggregate groups on, so the existing HashPartitioning
    * satisfies the aggregate's required distribution and the cap costs one
    * per-partition sort, not a second shuffle — and no aggregate row ever
    * materializes more than `maxPostingLen` ids (the skew defense: an
    * uncapped stop-shingle in 1M docs is an 8 MB aggregate row plus 5e11
    * emitted pairs). The `plen > 1` side of the filter also drops singleton
    * shingles before the list is built.
    */
  def shingleGroups(base: DataFrame, maxPostingLen: Int): DataFrame =
    shingleGroupsOn(windowedPostings(base), maxPostingLen)

  private def shingleGroupsOn(wp: DataFrame, maxPostingLen: Int): DataFrame =
    wp.filter(col("first") && col("plen") > 1 && col("plen") <= maxPostingLen)
      .groupBy(col("lang"), col("pband"), col("sh"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("band")))).as("ids"),
        max(col("band")).as("maxb"))

  /** Dropped stop-shingles at a given cap — the observability side of the
    * cap (what boilerplate was excluded, and how hot it was).
    */
  def stopShingles(base: DataFrame, maxPostingLen: Int): DataFrame =
    shingleTable(base, carry = Seq("lang", "band"))
      .withColumn("pband", explode(array(col("band"), col("band") + 1)))
      .groupBy(col("lang"), col("pband"), col("sh"))
      .agg(count(lit(1)).as("plen"))
      .filter(col("plen") > maxPostingLen)

  /** Jaccard semantics under the cap: doc shingle-set sizes (n_a, n_b) stay
    * the TRUE distinct-shingle counts; dropping a stop-shingle removes it
    * only from `common`, so the estimate is conservative (never inflates
    * similarity). The oracle mirrors both choices exactly.
    */
  def ngramJaccardPairsOn(base: DataFrame, maxPostingLen: Int): DataFrame = {
    val wp = windowedPostings(base)
    // per-doc TRUE distinct-shingle counts off the same windowed stream:
    // each distinct (doc, shingle) has exactly one first=true instance in
    // its own-band probe group, so this sub-aggregates the exchange the
    // posting groups already paid for (ReuseExchange) instead of running
    // a second corpus-wide distinct
    val sizes = wp.filter(col("first") && col("pband") === col("band"))
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n"))
    // Pair generation as aggregation, not a self-join: one shuffle by
    // shingle -> sorted (capped) posting list -> emit ordered combinations
    // -> count by pair. Same pairs/counts as the join formulation (the
    // oracle SQL keeps that shape), one shuffle of the posting data instead
    // of two join sides.
    // Each pair may co-occur in two probe bands; emitting only where the
    // probe band equals the larger of the two docs' own bands counts every
    // (pair, shingle) exactly once. Groups holding ONLY next-band copies
    // (maxb < pband) can't emit a surviving pair at all — skip their
    // C(n,2) explode entirely (roughly half the groups on typical
    // single-band-dominated shingles).
    val pairs = shingleGroupsOn(wp, maxPostingLen)
      .filter(col("maxb") === col("pband"))
      .select(col("pband"), explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.getField("doc_id").as("id_a"),
            y.getField("doc_id").as("id_b"),
            greatest(x.getField("band"), y.getField("band")).as("gband")))))).as("p"))
      .filter(col("p.gband") === col("pband"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .filter(col("common") * 10 >= col("n_a") + col("n_b") - col("common"))
      .select(col("id_a"), col("id_b"), col("common"),
        (col("n_a") + col("n_b") - col("common")).as("union_size"))
      .orderBy("id_a", "id_b")
  }

  /** Oracle mirrors the Spark tokenization exactly: trim + split on \s+
    * (not single-space), and the <n-token whole-doc fallback shingle —
    * multi-space or short documents otherwise diverge (ADVICE r2). The
    * stop-shingle cap is mirrored in the `f` CTE (pairs only from shingles
    * with plen <= MAX_POSTING_LEN; doc sizes stay uncapped), and the
    * adjacent-band probe in the `gx` CTE (postings doubled into
    * {band, band+1}, pairs emitted only at the larger doc band).
    */
  lazy val ngramJaccardPairsSql: String =
    s"""WITH t AS (SELECT doc_id, lang, CAST(floor(n_chars/100.0) AS INT) AS band,
      |                  regexp_split_to_array(trim(text), '\\s+') AS toks
      |           FROM documents),
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
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |          FROM gx a JOIN gx b ON a.sh = b.sh AND a.lang = b.lang
      |                           AND a.pband = b.pband AND a.doc_id < b.doc_id
      |          JOIN f ON f.lang = a.lang AND f.pband = a.pband AND f.sh = a.sh
      |          WHERE f.plen <= $MAX_POSTING_LEN
      |            AND a.pband = greatest(a.band, b.band)
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, common, (sa.n + sb.n - common) AS union_size
      |FROM pairs JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      |WHERE common * 10 >= sa.n + sb.n - common
      |ORDER BY id_a, id_b""".stripMargin

  /** d08: shingle posting-length histogram — how hot shingles get, i.e. the
    * distribution the stop-shingle cap defends against (and, at any given
    * cap, how many shingles would be dropped: the plen > cap tail).
    */
  def shingleFreqHistogram(s: SparkSession, d: String): DataFrame =
    // plen is already on every row of the windowed posting stream (one
    // exchange); collapsing to one row per group reuses its partitioning
    windowedPostings(docBase(s, d))
      .filter(col("first"))
      .groupBy(col("lang"), col("pband"), col("sh"))
      .agg(max(col("plen")).as("plen"))
      .groupBy(col("plen"))
      .agg(count(lit(1)).as("n_shingles"))
      .orderBy("plen")

  val shingleFreqHistogramSql: String =
    """WITH t AS (SELECT doc_id, lang, CAST(floor(n_chars/100.0) AS INT) AS band,
      |                  regexp_split_to_array(trim(text), '\s+') AS toks
      |           FROM documents),
      |g AS (SELECT DISTINCT doc_id, lang, band,
      |        CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
      |      FROM (SELECT doc_id, lang, band,
      |              unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |                          ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                                FOR i IN range(1, len(toks)-1)] END) AS sh0
      |            FROM t)),
      |f AS (SELECT lang, band + k AS pband, sh, count(*) AS plen
      |      FROM g, range(0, 2) r(k) GROUP BY 1, 2, 3)
      |SELECT plen, count(*) AS n_shingles FROM f GROUP BY plen ORDER BY plen""".stripMargin

  // ------------------------------------------------------------ MinHash LSH
  val SIG_N = 32  // minhashes per signature
  val BANDS = 8   // bands of SIG_N/BANDS rows each

  /** Cross-engine deterministic hash family. Base hash = first 15 hex chars
    * of md5 (60 bits, both engines lowercase-hex identical); family member
    * i = (a_i·(H mod p) + b_i) mod p with p = 2^31−1 and fixed odd
    * multipliers — all int64 arithmetic both engines can reproduce exactly,
    * which is what lets the driver hash-check an LSH structure at all
    * (xxhash64 exists only in Spark).
    */
  val HASH_P = 2147483647L

  /** Digest→long via the codegen [[graft.expressions.Md5Prefix60]] —
    * value-identical to `conv(substring(md5(c), 1, 15), 16, 10)
    * .cast("long")` (HashFamilySpec pins the equivalence) but skips the
    * hex-string materialization + base-16 parse on the per-shingle hot
    * path.
    */
  def baseHash(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(graft.expressions.Md5Prefix60(ColumnShim.expression(c)))
  }
  def seedA(i: Int): Long = ((2L * i + 1L) * 2654435761L) % HASH_P
  def seedB(i: Int): Long = (i.toLong * 40503L + 1L) % HASH_P

  /** Distinct word-3-gram shingles per doc as a fully codegen'd pipeline:
    * explode an index sequence over the token array and assemble each
    * shingle with element_at — all codegen'd builtins, no window sort, no
    * shuffle before the one distinct. A doc of fewer than n tokens is one
    * whole-doc shingle. A higher-order-function form (transform over
    * slices of the token array) is interpreted per element — measured
    * 7.8 s vs ~2 s at sf0.1. The token array never crosses an exchange:
    * the shingle projection happens in the same codegen stage as the
    * Generate. `carry` columns (e.g. blocking keys) ride along.
    */
  def shingleTable(docs: DataFrame, carry: Seq[String] = Nil,
      distinct: Boolean = true, n: Int = 3, hashed: Boolean = false): DataFrame = {
    val toked = docs.select(
      (col("doc_id") +: carry.map(col)) :+
        TextFunctions.tokens(col("text")).as("tk"): _*)
    val sh = when(size(col("tk")) < n, array_join(col("tk"), " "))
      .otherwise(concat_ws(" ",
        (0 until n).map(j => element_at(col("tk"), col("i") + j + 1)): _*))
    // hashed=true folds each shingle to its 60-bit [[baseHash]] IN the
    // explode's codegen stage, BEFORE any exchange: the distinct, the
    // probe-band doubling, the cap window and the posting groups then all
    // shuffle/sort 8-byte longs instead of ~25-byte strings (~1.5x on the
    // whole d03 family at sf0.1). Both engines derive the hash from the
    // same md5 prefix, so grouping — collisions included — is identical.
    val shc = if (hashed) baseHash(sh) else sh
    val exploded = toked
      .withColumn("i", explode(sequence(lit(0), greatest(size(col("tk")) - n, lit(0)))))
      .select((col("doc_id") +: carry.map(col)) :+ shc.as("sh"): _*)
    // consumers whose aggregate is idempotent under duplicates (minhash
    // min) skip the distinct shuffle
    if (distinct) exploded.dropDuplicates("doc_id" +: "sh" +: Nil) else exploded
  }

  /** Distinct word-n-gram shingles per doc for consumers needing longer
    * grams (benchmark decontamination uses 8) — [[shingleTable]] at n.
    */
  def ngramShingleTable(docs: DataFrame, n: Int): DataFrame =
    shingleTable(docs, n = n)

  /** MinHash signatures as a single codegen'd hash aggregate: shingle once,
    * hash once, then SIG_N min() aggregates over the affine family in one
    * pass. (The "obvious" nested higher-order-function formulation — a
    * transform over seeds of array_min over shingle hashes — is interpreted
    * per element and measured 100x slower at sf0.1.)
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // distinct=false: min() over the hash family is idempotent under
    // repeated shingles, so the distinct shuffle would be pure overhead
    val posting = shingleTable(docs, distinct = false)
      .withColumn("hm", baseHash(col("sh")) % HASH_P)
    val aggs = (0 until SIG_N).map(i =>
      min((lit(seedA(i)) * col("hm") + lit(seedB(i))) % HASH_P).as(s"m$i"))
    posting.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing any (band_idx, band_key) bucket.
    * `est_jaccard` is the fraction of agreeing minhashes (the standard
    * unbiased estimator). Never compares docs across buckets. Band keys are
    * the comma-joined band minhashes (identical string form both engines).
    */
  /** (doc_id, band_idx, band_key) rows from a signature frame — the LSH
    * banding both the d04 self-join and the d16 incremental probe share.
    * Band keys are the comma-joined band minhashes (identical string form
    * both engines).
    */
  def bandedKeys(sigs: DataFrame): DataFrame = bandedKeysAt(sigs, BANDS)

  /** [[bandedKeys]] at an arbitrary band count dividing [[SIG_N]] — the
    * d20 parameter sweep re-bands the SAME signatures (more bands =
    * shorter rows = recall shifted toward lower similarity).
    */
  def bandedKeysAt(sigs: DataFrame, bands: Int): DataFrame = {
    require(bands > 0 && SIG_N % bands == 0,
      s"band count must divide SIG_N=$SIG_N, got $bands")
    val rpb = SIG_N / bands
    val bandKeys = (0 until bands).map { b =>
      val cols = (b * rpb until (b + 1) * rpb).map(i => col(s"m$i"))
      concat_ws(",", cols: _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
  }

  def minhashLshPairs(s: SparkSession, d: String, threshold: Double = 0.1): DataFrame = {
    val sigs = minhashSignatures(Tables.documents(s, d))
    // Thin (doc_id, band_idx, band_key) self-join, pair-distinct as a
    // HashAggregate over two longs, THEN join the signatures back — same
    // SortAggregate-over-arrays avoidance as d06.
    val banded = bandedKeys(sigs)
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sigTable = sigs.select(col("doc_id") +: (0 until SIG_N).map(i => col(s"m$i")): _*)
    val renameA = sigTable.toDF("id_a" +: (0 until SIG_N).map(i => s"a$i"): _*)
    val renameB = sigTable.toDF("id_b" +: (0 until SIG_N).map(i => s"b$i"): _*)
    // agreement count via flat column pairs (codegen'd) — not zip_with/
    // filter HOFs (interpreted per element)
    val matches = (0 until SIG_N).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    pairs
      .join(renameA, "id_a")
      .join(renameB, "id_b")
      .withColumn("est_jaccard", matches.cast("double") / SIG_N)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Shared DuckDB CTE prefix (shingles → hashes → signatures → band
    * keys) and the signature-agreement terms — generated ONCE from the
    * same shingle/hash/band definitions, consumed by BOTH the d04 and
    * d16 oracles so a seed/band/hash change cannot silently
    * desynchronize them.
    */
  /** Per-band `SELECT ... FROM sig` union for an arbitrary band count —
    * the SQL mirror of [[bandedKeysAt]], shared by the default prefix's
    * `bands` CTE and the d20 sweep's per-config CTEs.
    */
  private def bandSelectsSqlAt(bands: Int): String = {
    // same guard as bandedKeysAt: a non-dividing band count would
    // silently drop trailing minhashes from the oracle instead of
    // failing loudly like the Scala side
    require(bands > 0 && SIG_N % bands == 0,
      s"band count must divide SIG_N=$SIG_N, got $bands")
    val rpb = SIG_N / bands
    (0 until bands).map { b =>
      val key = (b * rpb until (b + 1) * rpb).map(i => s"m$i").mkString(", ',', ")
      s"SELECT doc_id, $b AS band_idx, concat($key) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
  }

  private lazy val minhashCtePrefixSql: String = {
    val p = HASH_P
    val sigCols = (0 until SIG_N).map(i =>
      s"min((${seedA(i)}*hm + ${seedB(i)}) % $p) AS m$i").mkString(",\n  ")
    val bandSelects = bandSelectsSqlAt(BANDS)
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |g AS (SELECT doc_id,
       |        unnest(list_distinct(
       |          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |               ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                     FOR i IN range(1, len(toks)-1)] END)) AS sh
       |      FROM t),
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(sh),1,15)) AS BIGINT) % $p AS hm FROM g),
       |sig AS (SELECT doc_id,
       |  $sigCols
       |FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  private lazy val sigMatchTermsSql: String = (0 until SIG_N).map(i =>
    s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** d04 oracle, generated from the same shingle/hash/band definitions. */
  lazy val minhashLshPairsSql: String =
    s"""$minhashCtePrefixSql,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |est AS (SELECT id_a, id_b,
       |          CAST($sigMatchTermsSql AS DOUBLE)/$SIG_N AS est_jaccard
       |        FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.1
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------ incremental near-dup
  /** d16: incremental near-dup of a DELTA batch against a base corpus —
    * the daily-ingest shape ("today's batch against yesterday's corpus")
    * that every d01–d15 operator sidesteps by deduplicating the whole
    * corpus at once. The base side is the d04 MinHash band table
    * ((band_idx, band_key, doc_id)) plus its signature table; each delta
    * doc's bands probe it by equi-join.
    *
    * Per delta doc the probe reports its banded candidate count and the
    * best base match by signature agreement (the d04 estimator), with
    * `is_dup` at the 0.5 threshold. Selection is a lexicographic struct
    * max (est DESC, base id ASC) — deterministic under est ties.
    *
    * The registered query splits the corpus by a deterministic
    * `doc_id % 5` (base = 4/5, delta = 1/5) so DuckDB can oracle-check
    * the values. Candidate generation inherits d04's banding bounds.
    */
  val INC_SPLIT = 5
  val INC_DUP_THRESHOLD = 0.5

  /** Probe: delta signatures vs a base band table + signature table.
    * The band probe is a thin equi-join on (band_idx, band_key); the
    * pair-distinct is a hash aggregate over two longs; signatures join
    * back only for the candidate set (d04's confirm shape): signature
    * agreement, best-match struct max, verdict.
    */
  def probeSignatures(deltaSigs: DataFrame, indexBands: DataFrame,
      indexSigs: DataFrame): DataFrame = {
    val cand = bandedKeys(deltaSigs).as("q")
      .join(indexBands.as("x"),
        col("q.band_idx") === col("x.band_idx") &&
          col("q.band_key") === col("x.band_key"))
      .select(col("q.doc_id").as("did"), col("x.doc_id").as("bid"))
      .distinct()
    val sq = deltaSigs.toDF("did" +: (0 until SIG_N).map(i => s"a$i"): _*)
    val sx = indexSigs.toDF("bid" +: (0 until SIG_N).map(i => s"b$i"): _*)
    val matches = (0 until SIG_N).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    cand.join(sq, "did").join(sx, "bid")
      .withColumn("est_jaccard", matches.cast("double") / SIG_N)
      .groupBy(col("did").as("doc_id"))
      .agg(count(lit(1)).as("n_cand"),
        max(struct(col("est_jaccard").as("e"), (-col("bid")).as("nid"))).as("best"))
      .select(col("doc_id"), col("n_cand"),
        (-col("best.nid")).as("match_id"), col("best.e").as("est_jaccard"),
        (col("best.e") >= INC_DUP_THRESHOLD).cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  /** The registered d16 face: both batches derived from `documents` by
    * the deterministic split so the oracle can restate it.
    */
  def incrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val baseSigs = minhashSignatures(docs.filter(expr(s"doc_id % $INC_SPLIT != 0")))
    val deltaSigs = minhashSignatures(docs.filter(expr(s"doc_id % $INC_SPLIT = 0")))
    probeSignatures(deltaSigs, bandedKeys(baseSigs), baseSigs)
  }

  /** d16 oracle: the shared sig/band CTE prefix, split into base/delta. */
  lazy val incrementalNearDupSql: String =
    s"""$minhashCtePrefixSql,
       |q AS (SELECT * FROM bands WHERE doc_id % $INC_SPLIT = 0),
       |x AS (SELECT * FROM bands WHERE doc_id % $INC_SPLIT != 0),
       |cand AS (SELECT DISTINCT q.doc_id AS did, x.doc_id AS bid
       |         FROM q JOIN x ON q.band_idx = x.band_idx AND q.bkey = x.bkey),
       |est AS (SELECT did, bid,
       |          CAST($sigMatchTermsSql AS DOUBLE)/$SIG_N AS est
       |        FROM cand JOIN sig sa ON sa.doc_id = did JOIN sig sb ON sb.doc_id = bid),
       |sel AS (SELECT did, bid, est,
       |          count(*) OVER (PARTITION BY did) AS n_cand,
       |          row_number() OVER (PARTITION BY did ORDER BY est DESC, bid) AS rn
       |        FROM est)
       |SELECT did AS doc_id, CAST(n_cand AS BIGINT) AS n_cand, bid AS match_id,
       |  est AS est_jaccard,
       |  CASE WHEN est >= $INC_DUP_THRESHOLD THEN 1 ELSE 0 END AS is_dup
       |FROM sel WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------- d23 deletion-aware probe
  /** Deterministic forget-me slice for d23: every 13th base doc, offset 2. */
  val DEDUP_DEL_MOD = 13L
  val DEDUP_DEL_RES = 2L

  /** d23: the d16 incremental probe with a forgotten slice of the base
    * excluded: a forgotten doc generates no candidates, so deltas that
    * only matched forgotten content now probe as new, and
    * n_cand/best-match re-rank among the survivors. Deletion composes at
    * the BAND frame — one filter before candidate generation, nothing
    * downstream changes.
    */
  def incrementalNearDupDeleted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val survivors = docs.filter(expr(
      s"doc_id % $INC_SPLIT != 0 AND doc_id % $DEDUP_DEL_MOD != $DEDUP_DEL_RES"))
    val baseSigs = minhashSignatures(survivors)
    val deltaSigs = minhashSignatures(docs.filter(expr(s"doc_id % $INC_SPLIT = 0")))
    probeSignatures(deltaSigs, bandedKeys(baseSigs), baseSigs)
  }

  /** d23 oracle: the d16 chain with the forget-me slice filtered out of
    * the index side before candidate generation.
    */
  lazy val incrementalNearDupDeletedSql: String =
    s"""$minhashCtePrefixSql,
       |q AS (SELECT * FROM bands WHERE doc_id % $INC_SPLIT = 0),
       |x AS (SELECT * FROM bands WHERE doc_id % $INC_SPLIT != 0
       |        AND doc_id % $DEDUP_DEL_MOD <> $DEDUP_DEL_RES),
       |cand AS (SELECT DISTINCT q.doc_id AS did, x.doc_id AS bid
       |         FROM q JOIN x ON q.band_idx = x.band_idx AND q.bkey = x.bkey),
       |est AS (SELECT did, bid,
       |          CAST($sigMatchTermsSql AS DOUBLE)/$SIG_N AS est
       |        FROM cand JOIN sig sa ON sa.doc_id = did JOIN sig sb ON sb.doc_id = bid),
       |sel AS (SELECT did, bid, est,
       |          count(*) OVER (PARTITION BY did) AS n_cand,
       |          row_number() OVER (PARTITION BY did ORDER BY est DESC, bid) AS rn
       |        FROM est)
       |SELECT did AS doc_id, CAST(n_cand AS BIGINT) AS n_cand, bid AS match_id,
       |  est AS est_jaccard,
       |  CASE WHEN est >= $INC_DUP_THRESHOLD THEN 1 ELSE 0 END AS is_dup
       |FROM sel WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------- incremental exact dedup
  /** d17: exact incremental dedup of a delta batch against a base
    * content-hash index — the cheap first tier in front of d16's
    * near-dup probe (production runs exact-then-near: most re-crawls
    * are byte-identical and never need a signature). The index is
    * (md5, keeper id), the min doc id per hash; each delta doc joins it
    * on its own md5.
    *
    * The corpus has no organic exact duplicates (d01: 500 distinct
    * hashes of 500 docs), so the registered query PLANTS deterministic
    * copies of base docs into the delta — the d06 discipline, mirrored
    * in the oracle — and reports each delta doc's base keeper.
    */
  val EXACT_PLANT_OFFSET = 10000000L
  val EXACT_PLANT_STRIDE = 83L

  def incrementalExact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.filter(expr(s"doc_id % $INC_SPLIT != 0"))
    val index = base
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("match_id"))
    // delta = the %INC_SPLIT slice + planted exact copies of base docs
    val delta = docs.filter(expr(s"doc_id % $INC_SPLIT = 0"))
      .select(col("doc_id"), col("text"))
      .unionAll(base
        .filter(expr(s"doc_id % $EXACT_PLANT_STRIDE = 1"))
        .select((col("doc_id") + EXACT_PLANT_OFFSET).as("doc_id"), col("text")))
    delta.select(col("doc_id"), md5(col("text")).as("h"))
      .join(index, "h")
      .select("doc_id", "match_id")
      .orderBy("doc_id")
  }

  lazy val incrementalExactSql: String =
    s"""WITH b AS (SELECT md5(text) AS h, min(doc_id) AS match_id
       |           FROM documents WHERE doc_id % $INC_SPLIT != 0 GROUP BY 1),
       |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % $INC_SPLIT = 0
       |          UNION ALL
       |          SELECT doc_id + $EXACT_PLANT_OFFSET, text FROM documents
       |          WHERE doc_id % $INC_SPLIT != 0 AND doc_id % $EXACT_PLANT_STRIDE = 1)
       |SELECT d.doc_id, b.match_id
       |FROM delta d JOIN b ON md5(d.text) = b.h
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------ d18: composed exact -> near tier
  /** d18: the production daily-ingest composition of d17 and d16 — the
    * cheap exact tier runs FIRST and byte-identical delta rows (most
    * re-crawls) never reach the signature build: survivors of the exact
    * hash join are the ONLY rows shingled, minhashed, and band-probed.
    * Registered over the same deterministic %[[INC_SPLIT]] split (with
    * d17's planted exact copies, so the exact tier provably kills rows)
    * and oracle-mirrored.
    *
    * Output: one verdict row per matched delta doc — `tier='exact'`
    * (byte-identical, est 1.0) or `tier='near'` (d16's best-match
    * estimate over exact-survivors only).
    */
  def exactThenNear(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.filter(expr(s"doc_id % $INC_SPLIT != 0"))
    val index = base
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("match_id"))
    val delta = docs.filter(expr(s"doc_id % $INC_SPLIT = 0"))
      .select(col("doc_id"), col("text"))
      .unionAll(base
        .filter(expr(s"doc_id % $EXACT_PLANT_STRIDE = 1"))
        .select((col("doc_id") + EXACT_PLANT_OFFSET).as("doc_id"), col("text")))
    val hashed = delta.withColumn("h", md5(col("text")))
    val exact = hashed.join(index, "h").select(col("doc_id"), col("match_id"))
    // the near tier's input EXCLUDES exact dups — the composition's point:
    // a killed row generates zero shingles, signatures, or band candidates
    val survivors = hashed.join(index, Seq("h"), "left_anti")
      .select("doc_id", "text")
    val baseSigs = minhashSignatures(base)
    val near = probeSignatures(minhashSignatures(survivors),
      bandedKeys(baseSigs), baseSigs)
    exact.select(col("doc_id"), lit("exact").as("tier"), col("match_id"),
        lit(1.0).as("est_jaccard"), lit(1).as("is_dup"))
      .unionAll(near.select(col("doc_id"), lit("near").as("tier"),
        col("match_id"), col("est_jaccard"), col("is_dup")))
      .orderBy("doc_id")
  }

  lazy val exactThenNearSql: String =
    s"""$minhashCtePrefixSql,
       |bidx AS (SELECT md5(text) AS h, min(doc_id) AS match_id
       |         FROM documents WHERE doc_id % $INC_SPLIT != 0 GROUP BY 1),
       |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % $INC_SPLIT = 0
       |          UNION ALL
       |          SELECT doc_id + $EXACT_PLANT_OFFSET, text FROM documents
       |          WHERE doc_id % $INC_SPLIT != 0 AND doc_id % $EXACT_PLANT_STRIDE = 1),
       |ex AS (SELECT d.doc_id, b.match_id FROM delta d JOIN bidx b ON md5(d.text) = b.h),
       |q AS (SELECT * FROM bands WHERE doc_id % $INC_SPLIT = 0
       |      AND doc_id NOT IN (SELECT doc_id FROM ex)),
       |x AS (SELECT * FROM bands WHERE doc_id % $INC_SPLIT != 0),
       |cand AS (SELECT DISTINCT q.doc_id AS did, x.doc_id AS bid
       |         FROM q JOIN x ON q.band_idx = x.band_idx AND q.bkey = x.bkey),
       |est AS (SELECT did, bid, CAST($sigMatchTermsSql AS DOUBLE)/$SIG_N AS est
       |        FROM cand JOIN sig sa ON sa.doc_id = did JOIN sig sb ON sb.doc_id = bid),
       |sel AS (SELECT did, bid, est,
       |          count(*) OVER (PARTITION BY did) AS n_cand,
       |          row_number() OVER (PARTITION BY did ORDER BY est DESC, bid) AS rn
       |        FROM est)
       |SELECT doc_id, 'exact' AS tier, match_id, CAST(1.0 AS DOUBLE) AS est_jaccard,
       |  1 AS is_dup
       |FROM ex
       |UNION ALL
       |SELECT did AS doc_id, 'near' AS tier, bid AS match_id, est AS est_jaccard,
       |  CASE WHEN est >= $INC_DUP_THRESHOLD THEN 1 ELSE 0 END AS is_dup
       |FROM sel WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** Delete a directory tree if it exists (children before parents). */
  private[graft] def deleteTreeIfExists(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }

  // --------------------------------------------------------------- SimHash
  val SIMHASH_BITS = 60 // the md5-derived base hash carries 60 bits

  /** SimHash fingerprint over whitespace tokens: per bit, sum +1/-1 by the
    * token-hash bit; the signs form the fingerprint. Single narrow pass:
    * one fold over token hashes carrying a contribution vector, no
    * shuffle, no UDF. Uses the cross-engine md5-derived base hash so the
    * fingerprints are oracle-checkable.
    */
  def simhash(text: Column): Column = {
    val tokenHashes = transform(TextFunctions.tokens(text), t => baseHash(t))
    val bitIdx = sequence(lit(0), lit(SIMHASH_BITS - 1))
    val contrib = aggregate(tokenHashes, array_repeat(lit(0L), SIMHASH_BITS),
      (acc, h) => zip_with(acc,
        transform(bitIdx, b =>
          when(call_function("shiftright", h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)),
        (x, y) => x + y))
    aggregate(
      zip_with(contrib, bitIdx,
        (c, b) => when(c > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Doc_id → simhash fingerprint via explode + one hash aggregate (the
    * same codegen-friendly shape as minhashSignatures — the per-row
    * higher-order `simhash` column stays available for single-row use but
    * is interpreted and slower at scale). Fingerprints are identical.
    */
  def simhashFingerprints(s: SparkSession, d: String): DataFrame =
    simhashTable(s, d).orderBy("doc_id")

  /** Unordered (doc_id, simhash) — the join-input form (no global sort). */
  def simhashTable(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .withColumn("h", baseHash(col("tok")))
    val bitSums = (0 until SIMHASH_BITS).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"c$b")
    }
    val fingerprint = (0 until SIMHASH_BITS).map { b =>
      when(col(s"c$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, x) => a.bitwiseOR(x))
    toks.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  // ------------------------------------------- SimHash banded near-dups
  /** d09: near-duplicate pairs by SimHash Hamming distance — the classic
    * web-dedup shape (Manku/Jarvelin-style banding): split the 60-bit
    * fingerprint into SIMHASH_BANDS 15-bit bands; any pair within Hamming
    * distance SIMHASH_MAX_HAMMING (< #bands) must agree exactly on at
    * least one band (pigeonhole), so candidates come ONLY from per-band
    * equality buckets — sub-quadratic, one thin self-join on (band, key),
    * pair-distinct over four longs, then the exact popcount confirm.
    */
  val SIMHASH_BANDS = 4
  val SIMHASH_BAND_BITS = 15
  val SIMHASH_MAX_HAMMING = 3

  def simhashNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val fp = simhashTable(s, d)
    val banded = fp.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(SIMHASH_BANDS - 1))).as("b"))
      .withColumn("key",
        call_function("shiftright", col("simhash"),
          (col("b") * lit(SIMHASH_BAND_BITS)).cast("int"))
          .bitwiseAND(lit((1L << SIMHASH_BAND_BITS) - 1)))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    pairs
      .withColumn("hamming",
        call_function("bit_count", col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= SIMHASH_MAX_HAMMING)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** d09 oracle: same bands, same pigeonhole candidates, same popcount. */
  lazy val simhashNearDupPairsSql: String = {
    val sums = (0 until SIMHASH_BITS).map(b =>
      s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b").mkString(",\n  ")
    val combine = (0 until SIMHASH_BITS).map(b =>
      s"(CASE WHEN c$b > 0 THEN CAST(power(2, $b) AS BIGINT) ELSE 0 END)").mkString(" + ")
    val mask = (1L << SIMHASH_BAND_BITS) - 1
    s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT) AS hv FROM t),
       |c AS (SELECT doc_id,
       |  $sums
       |FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, CAST($combine AS BIGINT) AS sh FROM c),
       |bands AS (SELECT doc_id, sh, b, (sh >> ($SIMHASH_BAND_BITS*b)) & $mask AS key
       |          FROM s, range(0, $SIMHASH_BANDS) r(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sa, b.sh AS sb
       |         FROM bands a JOIN bands b
       |           ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $SIMHASH_MAX_HAMMING
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** d05 oracle: the same 60 bit-sums and sign-combine in SQL. */
  lazy val simhashFingerprintsSql: String = {
    val sums = (0 until SIMHASH_BITS).map(b =>
      s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b").mkString(",\n  ")
    val combine = (0 until SIMHASH_BITS).map(b =>
      s"(CASE WHEN c$b > 0 THEN CAST(power(2, $b) AS BIGINT) ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT) AS hv FROM t),
       |c AS (SELECT doc_id,
       |  $sums
       |FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($combine AS BIGINT) AS simhash
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------- connected-component survivors
  /** The dedup END-STEP the pair queries feed: near-dup pairs form a
    * graph; each connected component keeps one survivor (min doc_id).
    * The distributed path runs alternating large-star/small-star rounds
    * (the MapReduce-CC construction of Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), which converge in O(log n)
    * rounds on ANY graph — plain min-label propagation needs
    * graph-DIAMETER rounds, so an adversarial 1M-doc near-dup chain at
    * 100 TB would schedule a million Spark jobs. The rounds run on
    * [[Graph.fixpoint]]: one action per round, the eager checkpoint,
    * which also yields the 3-scalar edge fingerprint of the fixpoint test
    * — no row data reaches the driver, and the round it replaces is
    * released. If the loop still hasn't converged at maxIter it THROWS:
    * silently returning non-components to a dedup pipeline would delete
    * the wrong documents.
    */
  /** Strategy split, same idea as broadcast-vs-shuffle joins: a near-dup
    * pair graph is usually a sliver of the corpus, so below `smallGraph`
    * edges we collect the (bounded, two-longs-per-edge) edge list and run
    * driver-side union-find in O(E·α) — per-round distributed scheduling
    * would dominate by 10×. Above the threshold, the alternating-star path
    * runs fully distributed.
    */
  def connectedComponentsAuto(edges: DataFrame, smallGraph: Long = 1000000L): DataFrame = {
    val cached = edges.select(col("id_a"), col("id_b")).cache()
    // Both strategies fully materialize their result before returning (the
    // local path collects; the distributed path eagerly localCheckpoints),
    // so the edge cache is dead after dispatch — unpersist it here rather
    // than leaking one cached RDD per call in a long-lived session.
    try {
      if (cached.count() <= smallGraph) unionFindLocal(cached)
      else connectedComponents(cached)
    } finally cached.unpersist()
  }

  private def unionFindLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(k => (k, find(k))).toDF("id", "lbl")
  }

  /** One large-star round: every neighbor of u LARGER than u is rewired to
    * the minimum of u's closed neighborhood. Two shuffles (min-aggregate +
    * join back), edge count never grows beyond the bidirectional input.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = bidir.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    // shuffle_hash, not SMJ (round-17, guide §3.1): the join-back runs
    // EVERY star round, and SMJ re-sorts the full bidirectional edge
    // frame each time; the hash build side is the per-partition slice
    // of the O(|nodes|) mins frame — the thing that fits (the iterJoin
    // co-regime precedent). The join (not a window) stays the skew
    // boundary so AQE's skew-join splitting can cut a giant star's
    // partition (guide §2.5: skew handling applies to joins only).
    bidir.join(mins.hint("shuffle_hash"), "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")).distinct()
  }

  /** One small-star round: u and all of u's SMALLER neighbors are rewired
    * to the minimum of that set (edges arrive large→small oriented).
    */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    // shuffle_hash: same rationale as largeStar's join-back
    val fromNbrs = oriented.join(mins.hint("shuffle_hash"), "u")
      .select(col("v").as("n"), col("m"))
    val fromSelf = mins.select(col("u").as("n"), col("m"))
    fromNbrs.union(fromSelf).filter(col("n") =!= col("m"))
      .select(col("n").as("u"), col("m").as("v")).distinct()
  }

  /** Edge-set fingerprint (count + xor of TWO independently-seeded 64-bit
    * edge hashes — xor, not sum, so ANSI mode can't overflow and order
    * can't matter): equal fingerprints across a round ⇔ the round was a
    * no-op ⇔ the graph is a union of min-rooted stars (the algorithm's
    * fixpoint). A single-hash xor has a 2^-64 collision chance per
    * comparison — a collision would silently hand non-component labels to
    * a pipeline that DELETES documents, so a second hash family (extra
    * literal seed column) squares the odds away. Self-loops are left out
    * (the star rounds never emit one), so the same scalars fingerprint
    * the raw input edges. Observed on each round's own checkpoint
    * ([[Graph.checkpointed]]): no separate job.
    */
  private val edgeFingerprint: Seq[Column] = {
    val live = col("u") =!= col("v")
    Seq(count(when(live, 1)).as("n_edges"),
      coalesce(call_function("bit_xor",
        when(live, xxhash64(col("u"), col("v")))), lit(0L)).as("h1"),
      coalesce(call_function("bit_xor",
        when(live, xxhash64(lit(0x9E3779B9L), col("u"), col("v")))), lit(0L)).as("h2"))
  }

  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (eager) BEFORE mirroring — downstream rounds
    // reference the edges multiple times and would otherwise re-execute
    // the (expensive) pair pipeline that produced them; checkpointing also
    // keeps each round's logical plan flat (uncheckpointed, the plan
    // doubles per round and a few dozen rounds OOM the driver on plan
    // strings alone — found by the 40-node-chain spec)
    val (eRaw, fp0) = Graph.checkpointed(
      edges.select(col("id_a").as("u"), col("id_b").as("v")),
      edgeFingerprint: _*)
    // every node that appears in ANY input edge gets a label, including
    // self-loop-only nodes the star rounds drop
    val nodes = eRaw.select(col("u").as("id"))
      .union(eRaw.select(col("v").as("id"))).distinct().localCheckpoint(true)
    val live = eRaw.filter(col("u") =!= col("v"))
    var stats = fp0
    var converged = fp0("n_edges") == 0L
    val e = if (converged) live else Graph.fixpoint(live, maxIter) { (cur, _) =>
      val (next, fp) = Graph.checkpointed(smallStar(largeStar(cur)), edgeFingerprint: _*)
      converged = fp == stats
      stats = fp
      (next, !converged)
    }
    if (!converged) {
      Seq(e, eRaw, nodes).foreach(Graph.release)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter alternating-star " +
          s"rounds (${stats("n_edges")} edges remain in motion); refusing to return " +
          "labels that are not connected components")
    }
    // fixpoint edges are (child, root) stars; roots and isolated nodes
    // label themselves
    val labels = nodes
      .join(e.select(col("u").as("id"), col("v").as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
      .localCheckpoint(true)
    Seq(e, eRaw, nodes).foreach(Graph.release)
    labels
  }

  /** d07: component id (= surviving doc_id) per document that appears in
    * any d03 near-dup pair, plus whether the doc IS the survivor.
    */
  def neardupSurvivors(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccardPairs(s, d).select("id_a", "id_b")
    connectedComponentsAuto(pairs)
      .select(col("id").as("doc_id"), col("lbl").as("component"),
        (col("id") === col("lbl")).cast("int").as("is_survivor"))
      .orderBy("doc_id")
  }

  /** d14: quality-aware survivor selection — d07 keeps the min-id member
    * of each near-dup component; production dedup (FineWeb/RefinedWeb
    * style) keeps the BEST member. Per component: its size and the member
    * with the highest t03 quality score (ties → smallest doc_id). The
    * extra work over d07 is one narrow quality projection and a join of
    * the (small) labeled set back to it; the component labels, pair
    * pipeline, and all its caps are shared verbatim. Quality doubles are
    * the t03 expression — bit-identical cross-engine — and the argmax is
    * a lexicographic struct max, so selection is deterministic.
    */
  def qualitySurvivors(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccardPairs(s, d).select("id_a", "id_b")
    val labels = connectedComponentsAuto(pairs)
    val q = Tables.documents(s, d).select(col("doc_id"),
      graft.functions.TextFunctions.qualityScore(col("text"), TextOps.stopwords)
        .as("quality"))
    labels.join(q, labels("id") === q("doc_id"))
      .groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("component"), col("n_members"),
        (-col("best.nid")).as("keeper_id"), col("best.q").as("keeper_quality"))
      .orderBy("component")
  }

  /** d15: edit-distance-confirmed near-dup pairs — the two-stage fuzzy
    * dedup the banded pipelines approximate: d03's capped shingle
    * candidates, then an EXACT Levenshtein confirm on the candidate
    * texts. The confirm stage is the only place document bodies meet —
    * and only for candidate pairs (sub-quadratic by the same cap/banding
    * as d03), which is precisely how production fuzzy dedup bounds the
    * O(len²) distance kernel. Similarity is permille integer arithmetic
    * (1000·(maxlen−dist) div maxlen) and levenshtein() is exact in both
    * engines, so the oracle hash-matches.
    */
  val EDIT_SIM_MIN_PERMILLE = 800L

  def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
    ngramJaccardPairs(s, d).select("id_a", "id_b")
      .join(texts.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(texts.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("maxlen"))
      .withColumn("sim_permille",
        expr("(1000 * (maxlen - edit_dist)) div greatest(maxlen, 1)"))
      .filter(col("sim_permille") >= EDIT_SIM_MIN_PERMILLE)
      .select("id_a", "id_b", "edit_dist", "sim_permille")
      .orderBy("id_a", "id_b")
  }

  lazy val editDistancePairsSql: String =
    s"""WITH pr AS (SELECT id_a, id_b FROM (${"\n" + ngramJaccardPairsSql}
      |)),
      |e AS (SELECT id_a, id_b,
      |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
      |    CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS maxlen
      |  FROM pr JOIN documents ta ON ta.doc_id = id_a
      |          JOIN documents tb ON tb.doc_id = id_b)
      |SELECT id_a, id_b, edit_dist,
      |  (1000 * (maxlen - edit_dist)) // greatest(maxlen, 1) AS sim_permille
      |FROM e
      |WHERE (1000 * (maxlen - edit_dist)) // greatest(maxlen, 1) >= $EDIT_SIM_MIN_PERMILLE
      |ORDER BY id_a, id_b""".stripMargin

  /** Production entry point for the near-dup family: candidate pairs,
    * component labels (d07), quality-selected keepers (d14), and
    * edit-distance confirms (d15) from ONE pair-pipeline run. The
    * registered d07/d14/d15 queries each rebuild the pipeline because
    * the driver harness checks keys in isolation; a real dedup batch
    * calls this and pays the posting index and connected components
    * once (pairs localCheckpoint so the two consumers don't recompute;
    * CC output is already eagerly materialized).
    */
  def neardupReport(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val pairs = ngramJaccardPairs(s, d).select("id_a", "id_b")
      .localCheckpoint(true)
    val labels = connectedComponentsAuto(pairs)
    val components = labels
      .select(col("id").as("doc_id"), col("lbl").as("component"),
        (col("id") === col("lbl")).cast("int").as("is_survivor"))
      .orderBy("doc_id")
    val q = Tables.documents(s, d).select(col("doc_id"),
      graft.functions.TextFunctions.qualityScore(col("text"), TextOps.stopwords)
        .as("quality"))
    val keepers = labels.join(q, labels("id") === q("doc_id"))
      .groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("component"), col("n_members"),
        (-col("best.nid")).as("keeper_id"), col("best.q").as("keeper_quality"))
      .orderBy("component")
    val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val confirms = pairs
      .join(texts.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(texts.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("maxlen"))
      .withColumn("sim_permille",
        expr("(1000 * (maxlen - edit_dist)) div greatest(maxlen, 1)"))
      .filter(col("sim_permille") >= EDIT_SIM_MIN_PERMILLE)
      .select("id_a", "id_b", "edit_dist", "sim_permille")
      .orderBy("id_a", "id_b")
    (pairs, components, keepers, confirms)
  }

  /** d07 oracle: recursive transitive-closure min-label (pairs under the
    * same stop-shingle cap as d03).
    */
  /** Shared oracle prefix: the capped pair pipeline + recursive
    * transitive-closure component labels (d07/d14).
    */
  private[operators] lazy val ccCtes: String =
    s"""WITH RECURSIVE
      |t AS (SELECT doc_id, lang, CAST(floor(n_chars/100.0) AS INT) AS band,
      |             regexp_split_to_array(trim(text), '\\s+') AS toks
      |      FROM documents),
      |g AS (SELECT DISTINCT doc_id, lang, band,
      |        CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
      |      FROM (SELECT doc_id, lang, band,
      |              unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |                          ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                                FOR i IN range(1, len(toks)-1)] END) AS sh0
      |            FROM t)),
      |gx AS MATERIALIZED (SELECT doc_id, lang, band, band + k AS pband, sh
      |       FROM g, range(0, 2) r(k)),
      |f AS (SELECT lang, pband, sh, count(*) AS plen FROM gx GROUP BY 1, 2, 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |-- the stop-shingle cap must land BEFORE the posting self-join in
      |-- this engine too: joined-then-filtered, a boilerplate shingle in
      |-- k docs contributes k^2 join rows first (the 100x probe spilled
      |-- 60 GB of temp and died on exactly that); gf mirrors Spark's
      |-- cap-before-collect_list shape
      |gf AS MATERIALIZED (
      |      SELECT a.doc_id, a.lang, a.band, a.pband, a.sh
      |      FROM gx a JOIN f ON f.lang = a.lang AND f.pband = a.pband
      |                      AND f.sh = a.sh
      |      WHERE f.plen <= $MAX_POSTING_LEN),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |      FROM gf a JOIN gf b ON a.sh = b.sh AND a.lang = b.lang
      |                       AND a.pband = b.pband AND a.doc_id < b.doc_id
      |      WHERE a.pband = greatest(a.band, b.band)
      |      GROUP BY 1, 2),
      |-- pairs/edges MUST be MATERIALIZED: the recursive cc term below
      |-- references edges each iteration, and inlined CTEs made DuckDB
      |-- recompute the ENTIRE pair pipeline (the gf self-join) per
      |-- closure round — measured 796 s at the 100x corpus vs 179 s
      |-- materialized (the closure itself is cheap; the one-shot capped
      |-- self-join, which both engines pay, is the remaining floor)
      |pairs AS MATERIALIZED (
      |          SELECT id_a, id_b FROM p JOIN sz sa ON id_a = sa.doc_id
      |                                   JOIN sz sb ON id_b = sb.doc_id
      |          WHERE common * 10 >= sa.n + sb.n - common),
      |edges AS MATERIALIZED (
      |          SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |cc AS (
      |  SELECT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, cc.lbl AS lbl FROM cc JOIN edges e ON cc.id = e.src
      |)""".stripMargin

  lazy val neardupSurvivorsSql: String =
    s"""$ccCtes
      |SELECT id AS doc_id, min(lbl) AS component,
      |  CAST(CASE WHEN id = min(lbl) THEN 1 ELSE 0 END AS INT) AS is_survivor
      |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin

  // -------------------------------------- d25 component-size census
  /** d25: the near-dup CLUSTER-SIZE distribution — the dashboard number
    * a dedup operator actually watches (FineWeb/CCNet report exactly
    * this): how many duplicate clusters exist at each size, plus the
    * singleton mass. A crawl config regression shows up here first — a
    * fattening "9+" bucket means boilerplate or a mirror site slipped
    * past the shingle caps; a collapsing singleton bucket means the
    * threshold is over-firing. Buckets are size 1 (docs in NO pair), 2,
    * 3-4, 5-8, 9+ — fixed 5-row output at any corpus size: empty
    * buckets are zero-filled via a left join from the literal 5-bucket
    * frame (a groupBy alone would OMIT a size class with no clusters,
    * and a dashboard row that disappears is not a zero — it's a gap).
    *
    * Scale shape: d03's capped pair pipeline + the same CC labels d07
    * uses (alternating-star rounds above 1M edges); the census is two
    * aggregates over the O(|dup docs|) label frame plus one anti-join
    * count for singletons. Nothing new reaches pair scale.
    */
  def componentCensus(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccardPairs(s, d).select("id_a", "id_b")
    val labels = connectedComponentsAuto(pairs) // (id, lbl): only paired docs
    val comp = labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
    val buckets = comp
      .withColumn("bucket",
        when(col("sz") === 2, "2").when(col("sz") <= 4, "3-4")
          .when(col("sz") <= 8, "5-8").otherwise("9+"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_docs"))
    val singles = Tables.documents(s, d).select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("1").as("bucket"), col("n").as("n_components"),
        col("n").as("n_docs"))
    val allBuckets = s.range(1).select(
      explode(array(Seq("1", "2", "3-4", "5-8", "9+").map(lit): _*))
        .as("bucket"))
    allBuckets.join(buckets.unionByName(singles), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_components"), lit(0L)).as("n_components"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("bucket")
  }

  /** d25 oracle: the shared cc labels, bucketed identically, zero-filled
    * from the same literal 5-bucket frame.
    */
  lazy val componentCensusSql: String =
    s"""$ccCtes,
      |labels AS (SELECT id, min(lbl) AS lbl FROM cc GROUP BY id),
      |comp AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz
      |         FROM labels GROUP BY lbl),
      |b AS (SELECT CASE WHEN sz = 2 THEN '2' WHEN sz <= 4 THEN '3-4'
      |               WHEN sz <= 8 THEN '5-8' ELSE '9+' END AS bucket,
      |        CAST(count(*) AS BIGINT) AS n_components,
      |        CAST(sum(sz) AS BIGINT) AS n_docs
      |      FROM comp GROUP BY 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |      WHERE doc_id NOT IN (SELECT id FROM labels)),
      |u AS (SELECT bucket, n_components, n_docs FROM b
      |      UNION ALL SELECT '1', n, n FROM s)
      |SELECT ab.bucket, coalesce(u.n_components, 0) AS n_components,
      |  coalesce(u.n_docs, 0) AS n_docs
      |FROM (SELECT unnest(['1', '2', '3-4', '5-8', '9+']) AS bucket) ab
      |LEFT JOIN u USING (bucket)
      |ORDER BY ab.bucket""".stripMargin

  /** Keeper CTE chain (labels → quality → ranked members) appended to
    * [[ccCtes]] — shared by the d14 oracle and the d21 unified-report
    * oracle so the keeper semantics cannot drift between them.
    */
  private lazy val keeperCtesSql: String =
    s"""labels AS (SELECT id, min(lbl) AS lbl FROM cc GROUP BY id),
      |qm AS (SELECT doc_id, text,
      |    string_split(trim(lower(text)), ' ') AS ltoks,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio
      |  FROM documents),
      |q AS (SELECT doc_id,
      |    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * (1.0 - punct_ratio))
      |      * (1.0 - 0.5 * (CAST(len(list_filter(ltoks, x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE)
      |        / greatest(len(ltoks), 1))) AS quality
      |  FROM qm),
      |j AS (SELECT l.lbl AS component, q.doc_id, q.quality
      |      FROM labels l JOIN q ON q.doc_id = l.id),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY component) AS cnt
      |  FROM j)""".stripMargin

  /** d14 oracle: the shared component labels joined to the t03 quality
    * expression; keeper = rank-1 by (quality DESC, doc_id).
    */
  lazy val qualitySurvivorsSql: String =
    s"""$ccCtes,
      |$keeperCtesSql
      |SELECT component, CAST(cnt AS BIGINT) AS n_members,
      |  doc_id AS keeper_id, quality AS keeper_quality
      |FROM r WHERE rn = 1 ORDER BY component""".stripMargin

  /** d21: [[neardupReport]] as ONE registered, oracled query — the
    * PRODUCTION face of the d07/d14/d15 triple, the exact rationale that
    * produced p11: the driver harness prices those three keys as isolated
    * runs, each paying the (dominant) capped pair pipeline — and d07/d14
    * additionally each paying connected components — while a real dedup
    * batch calls [[neardupReport]] and pays pairs + CC once. This key
    * exposes that amortized shape to the bench; NeardupReportSpec pins
    * section-equality with the registered d07/d14/d15 outputs.
    *
    * Schema: (section, id_a, id_b, val1, val2, quality) — 'component'
    * rows carry (doc_id, component, is_survivor); 'keeper' rows
    * (component, keeper_id, n_members, –, keeper_quality); 'confirm'
    * rows (id_a, id_b, edit_dist, sim_permille). (section, id_a, id_b)
    * is unique per section by construction, so the global ORDER BY is a
    * total order.
    */
  def neardupReportUnified(s: SparkSession, d: String): DataFrame = {
    val (_, components, keepers, confirms) = neardupReport(s, d)
    val nullLong = lit(null).cast("long")
    val nullDouble = lit(null).cast("double")
    val compRows = components.select(lit("component").as("section"),
      col("doc_id").as("id_a"), col("component").as("id_b"),
      col("is_survivor").cast("long").as("val1"),
      nullLong.as("val2"), nullDouble.as("quality"))
    val keeperRows = keepers.select(lit("keeper").as("section"),
      col("component").as("id_a"), col("keeper_id").as("id_b"),
      col("n_members").cast("long").as("val1"),
      nullLong.as("val2"), col("keeper_quality").as("quality"))
    val confirmRows = confirms.select(lit("confirm").as("section"),
      col("id_a"), col("id_b"), col("edit_dist").as("val1"),
      col("sim_permille").as("val2"), nullDouble.as("quality"))
    compRows.unionByName(keeperRows).unionByName(confirmRows)
      .orderBy("section", "id_a", "id_b")
  }

  /** d21 oracle: the d07/d14/d15 oracle fragments over ONE shared CTE
    * chain, unified exactly like the Spark face.
    */
  lazy val neardupReportUnifiedSql: String =
    s"""$ccCtes,
      |$keeperCtesSql,
      |conf AS (SELECT id_a, id_b,
      |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
      |    CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS maxlen
      |  FROM pairs JOIN documents ta ON ta.doc_id = id_a
      |             JOIN documents tb ON tb.doc_id = id_b)
      |SELECT section, id_a, id_b, val1, val2, quality FROM (
      |  SELECT 'component' AS section, id AS id_a, min(lbl) AS id_b,
      |      CAST(CASE WHEN id = min(lbl) THEN 1 ELSE 0 END AS BIGINT) AS val1,
      |      CAST(NULL AS BIGINT) AS val2, CAST(NULL AS DOUBLE) AS quality
      |    FROM cc GROUP BY id
      |  UNION ALL
      |  SELECT 'keeper', component, doc_id, CAST(cnt AS BIGINT),
      |      CAST(NULL AS BIGINT), quality
      |    FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT 'confirm', id_a, id_b, edit_dist,
      |      (1000 * (maxlen - edit_dist)) // greatest(maxlen, 1),
      |      CAST(NULL AS DOUBLE)
      |    FROM conf
      |    WHERE (1000 * (maxlen - edit_dist)) // greatest(maxlen, 1)
      |          >= $EDIT_SIM_MIN_PERMILLE)
      |ORDER BY section, id_a, id_b""".stripMargin

  // ------------------------------------------------------ paragraph dedup
  /** d10: paragraph-level exact dedup (the CCNet / RefinedWeb pass that
    * removes boilerplate shared ACROSS documents — headers, footers, nav
    * text — which document-level dedup can't see). The corpus has no
    * newline structure, so "paragraphs" are deterministic [[PARA_TOKENS]]-
    * token chunks; the operator is the global first-occurrence-wins dedup
    * over them: an instance is a duplicate iff an identical paragraph
    * exists at a lexicographically earlier (doc_id, chunk_no). Output is
    * the per-document damage report a curation pipeline gates on:
    * paragraph count, duplicated-paragraph count, and dup_permille
    * (floor over exact integers, t09-style, so the oracle hash-matches).
    *
    * Scale shape: chunks are reduced to [[baseHash]] values immediately,
    * so the exchange partitioning by paragraph identity carries
    * (h, doc_id, chunk_no) longs — never paragraph bodies. One window
    * over h (row_number by (doc_id, chunk_no)) marks non-first
    * occurrences, one hash aggregate folds back to per-doc stats. Two
    * shuffles total, both over thin rows; no driver round-trips.
    */
  val PARA_TOKENS = 8

  /** (doc_id, chunk_no, h): documents cut into [[PARA_TOKENS]]-token
    * chunks, each folded to its 60-bit [[baseHash]] IN the explode's
    * codegen stage — so anything downstream exchanges (h, doc_id,
    * chunk_no) longs, never chunk bodies. Shared by d10 (first-
    * occurrence dedup) and t12 (frequency-threshold boilerplate).
    */
  def paraChunkTable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .withColumn("chunk_no",
        explode(sequence(lit(0), floor((size(col("tk")) - 1) / PARA_TOKENS).cast("int"))))
      .select(col("doc_id"), col("chunk_no"),
        baseHash(concat_ws(" ",
          slice(col("tk"), col("chunk_no") * PARA_TOKENS + 1, lit(PARA_TOKENS)))).as("h"))

  def paragraphDedupStats(s: SparkSession, d: String): DataFrame = {
    val paras = paraChunkTable(Tables.documents(s, d))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_no"))
    paras
      .withColumn("dup", (row_number().over(w) > 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"), sum(col("dup")).as("n_dup_paras"))
      .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
        floor(lit(1000.0) * col("n_dup_paras") / col("n_paras"))
          .cast("long").as("dup_permille"))
      .orderBy("doc_id")
  }

  val paragraphDedupStatsSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      |           FROM documents),
      |c AS (SELECT doc_id, i AS chunk_no,
      |        CAST(concat('0x', substr(md5(array_to_string(
      |          tk[(i*$PARA_TOKENS)+1 : (i+1)*$PARA_TOKENS], ' ')), 1, 15)) AS BIGINT) AS h
      |      FROM t, unnest(range(0, CAST(ceil(len(tk)/$PARA_TOKENS.0) AS BIGINT))) AS r(i)),
      |m AS (SELECT doc_id, h,
      |        row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_no) AS rk
      |      FROM c)
      |SELECT doc_id, count(*) AS n_paras,
      |  CAST(count(*) FILTER (rk > 1) AS BIGINT) AS n_dup_paras,
      |  CAST(floor(1000.0 * count(*) FILTER (rk > 1) / count(*)) AS BIGINT)
      |    AS dup_permille
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- cross-source dup matrix
  /** d11: cross-source duplication matrix — which sources carry copies of
    * each other's content (mirror sites, scraped re-posts, dataset
    * overlap between crawl dumps). For every pair of sources, counts the
    * distinct content hashes present in both. The curation decision this
    * feeds: a source whose corpus is mostly another source's content gets
    * downweighted or dropped wholesale, BEFORE doc-level dedup spends
    * compute on it.
    *
    * The synthetic corpus has no cross-source copies, so — the d06/t10
    * pattern — mirrored copies are planted in-query (every doc_id %
    * [[MIRROR_EVERY]] == 0 re-appears under `source_mirror`), identically
    * in the oracle; the operator under test is the matrix itself.
    *
    * Scale shape: documents reduce to distinct (source, 60-bit hash)
    * rows immediately — bodies never shuffle; the matrix is a self-join
    * on hash equality, where group size = number of sources sharing one
    * text. A hash present in more than [[MAX_HASH_SOURCES]] sources is a
    * VIRAL text (per-page boilerplate mirrored everywhere) and is dropped
    * before the join — the d03 stop-shingle defense: an uncapped viral
    * hash in k sources emits k(k-1)/2 pairs, the one quadratic blow-up
    * here, and contributes no curation signal (it says "boilerplate", not
    * "source B mirrors source A"). The cap is a count window over the
    * join key itself, so it reuses the join's hash partitioning; the
    * oracle mirrors it, and DedupCapSpec plants an over-cap hash.
    */
  val MIRROR_EVERY = 29
  val MAX_HASH_SOURCES = 50

  def crossSourceDupMatrix(s: SparkSession, d: String): DataFrame = {
    // doc identity is irrelevant here — the matrix is over (source, hash)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val planted = docs.filter(col("doc_id") % MIRROR_EVERY === 0)
      .select(concat(col("source"), lit("_mirror")).as("source"), col("text"))
    crossSourceDupMatrixOn(
      docs.select(col("source"), col("text")).unionByName(planted))
  }

  /** The matrix over an arbitrary (source, text) frame — the testable
    * core: DedupCapSpec feeds it a planted viral text.
    */
  def crossSourceDupMatrixOn(docs: DataFrame): DataFrame = {
    val hs = docs.select(col("source"), baseHash(col("text")).as("h"))
      .distinct()
      .withColumn("n_sources", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("n_sources") <= MAX_HASH_SOURCES)
      .select("source", "h")
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  val crossSourceDupMatrixSql: String =
    s"""WITH p AS (SELECT source, text FROM documents
      |           UNION ALL
      |           SELECT source || '_mirror', text
      |           FROM documents WHERE doc_id % $MIRROR_EVERY = 0),
      |hs0 AS (SELECT DISTINCT source,
      |          CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
      |        FROM p),
      |hs AS (SELECT source, h FROM hs0
      |       QUALIFY count(*) OVER (PARTITION BY h) <= $MAX_HASH_SOURCES)
      |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- containment dedup
  /** d12: asymmetric containment pairs — the "quote inclusion" dedup a
    * symmetric near-dup pass misses: a document wholly CONTAINED in a
    * longer one (quoted article + commentary, boilerplate-wrapped
    * mirror) has LOW Jaccard — the union is dominated by the container —
    * but containment |A∩B|/|A| near 1. Emitted when the smaller doc's
    * shingles are ≥ [[CONTAIN_PERMILLE]]‰ covered (exact integer test,
    * oracle hash-matches).
    *
    * Scale shape: the same capped inverted index as d03, but WITHOUT
    * length-band blocking — containment pairs have arbitrarily different
    * lengths by definition, so the blocking keys are (lang, shingle
    * hash) alone and the posting cap is the sole (and sufficient)
    * quadratic defense. Same one-exchange windowed-posting pipeline:
    * in-group lag dedup, whole-partition plen, groups + per-doc sizes
    * off one shuffle.
    *
    * The synthetic corpus has no organic quote pairs, so — the d06/d11
    * pattern — quoting documents are planted in-query (every doc_id %
    * [[QUOTE_EVERY]] == 0 reappears with commentary appended, id
    * offset), identically in the oracle.
    */
  val QUOTE_EVERY = 37
  val QUOTE_ID_OFFSET = 2000000000000L
  val CONTAIN_PERMILLE = 900
  private val QUOTE_SUFFIX = " quoted above with review commentary appended for context"

  def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val planted = docs.filter(col("doc_id") % QUOTE_EVERY === 0)
      .select((col("doc_id") + QUOTE_ID_OFFSET).as("doc_id"), col("lang"),
        concat(col("text"), lit(QUOTE_SUFFIX)).as("text"))
    containmentPairsOn(docs.unionByName(planted), MAX_POSTING_LEN)
  }

  /** Containment pairs over an arbitrary (doc_id, lang, text) frame. */
  def containmentPairsOn(base: DataFrame, maxPostingLen: Int): DataFrame = {
    val posting = shingleTable(base, carry = Seq("lang"),
        distinct = false, hashed = true)
    val wsh = Window.partitionBy("lang", "sh")
    val wp = posting
      .withColumn("first", coalesce(
        lag(col("doc_id"), 1).over(wsh.orderBy(col("doc_id"))) =!= col("doc_id"),
        lit(true)))
      .withColumn("plen", sum(col("first").cast("long")).over(wsh))
    val sizes = wp.filter(col("first"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = wp.filter(col("first") && col("plen") > 1 && col("plen") <= maxPostingLen)
      .groupBy(col("lang"), col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .filter(col("common") * 1000 >= lit(CONTAIN_PERMILLE) * least(col("n_a"), col("n_b")))
      .select(
        when(col("n_a") <= col("n_b"), col("id_a")).otherwise(col("id_b")).as("contained_id"),
        when(col("n_a") <= col("n_b"), col("id_b")).otherwise(col("id_a")).as("container_id"),
        col("common"),
        least(col("n_a"), col("n_b")).as("n_contained"),
        expr("common * 1000 div least(n_a, n_b)").as("cont_permille"))
      .orderBy("contained_id", "container_id")
  }

  lazy val containmentPairsSql: String =
    s"""WITH d0 AS (SELECT doc_id, lang, text FROM documents
      |            UNION ALL
      |            SELECT doc_id + $QUOTE_ID_OFFSET, lang,
      |                   text || '$QUOTE_SUFFIX'
      |            FROM documents WHERE doc_id % $QUOTE_EVERY = 0),
      |t AS (SELECT doc_id, lang,
      |             regexp_split_to_array(trim(text), '\\s+') AS toks
      |      FROM d0),
      |g AS (SELECT DISTINCT doc_id, lang,
      |        CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
      |      FROM (SELECT doc_id, lang,
      |              unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |                          ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                                FOR i IN range(1, len(toks)-1)] END) AS sh0
      |            FROM t)),
      |f AS (SELECT lang, sh, count(*) AS plen FROM g GROUP BY 1, 2),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |      FROM g a JOIN g b ON a.sh = b.sh AND a.lang = b.lang
      |                       AND a.doc_id < b.doc_id
      |      JOIN f ON f.lang = a.lang AND f.sh = a.sh
      |      WHERE f.plen <= $MAX_POSTING_LEN
      |      GROUP BY 1, 2)
      |SELECT CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id,
      |       CASE WHEN sa.n <= sb.n THEN id_b ELSE id_a END AS container_id,
      |       common,
      |       least(sa.n, sb.n) AS n_contained,
      |       common * 1000 // least(sa.n, sb.n) AS cont_permille
      |FROM p JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      |WHERE common * 1000 >= $CONTAIN_PERMILLE * least(sa.n, sb.n)
      |ORDER BY contained_id, container_id""".stripMargin

  // ------------------------------------------- exact-substring dedup
  /** d13: exact-substring duplication coverage — the ExactSubstr pass of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): any [[SUBSTR_TOKENS]]-token window that also occurs in
    * ANOTHER document marks its span as duplicated, and a document's
    * score is how many of its tokens sit under at least one such span —
    * the signal that catches partial template reuse and long quoted
    * passages that whole-doc and paragraph dedup both miss (their
    * chunking is aligned; rolling windows are not). Production runs use
    * ~50-token windows over a suffix array; the rolling-gram-hash
    * formulation is the distributed equivalent, and the fixture window
    * is 8 so the corpus's organic repeats exercise the span merge.
    *
    * No pair emission anywhere — this is a MARKING operator: a gram is
    * either cross-document-shared or not (count of distinct docs >= 2),
    * so viral grams cost one counter, not k² pairs — the blow-up d03/d12
    * need a posting cap for simply cannot occur. Span union per doc is
    * the classic sorted-interval merge expressed as one `lead()` window:
    * covered = Σ min(window, next_pos − pos), last span pays full
    * window.
    *
    * Scale shape: grams fold to 60-bit hashes in the explode's codegen
    * stage (thin (h, doc_id, pos) rows in every exchange); the cross-doc
    * flag is a hash aggregate keyed by gram hash; the flagged-position
    * join shuffles the same thin rows; the interval-merge window
    * partitions by doc_id — unbounded cardinality, bounded per-doc work.
    * All arithmetic exact int64; the oracle hash-matches at any scale.
    */
  val SUBSTR_TOKENS = 8

  def substringDupStats(s: SparkSession, d: String): DataFrame =
    substringDupStatsOn(Tables.documents(s, d))

  /** Substring-duplication coverage over an arbitrary (doc_id, text) frame. */
  def substringDupStatsOn(docs: DataFrame): DataFrame = {
    val k = SUBSTR_TOKENS
    val base = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
    val grams = base.filter(col("n_tokens") >= k)
      .withColumn("pos", explode(sequence(lit(0L), col("n_tokens") - k)))
      .select(col("doc_id"), col("pos"),
        baseHash(concat_ws(" ", slice(col("tk"), (col("pos") + 1).cast("int"), lit(k)))).as("h"))
    // cross-doc test as two count windows on nested keys: a gram is
    // shared iff its corpus-wide instance count exceeds its own-doc
    // count. hashpartitioning(h) satisfies the (h, doc_id) clustering
    // too (the d03 cap trick), so BOTH windows and the filter ride ONE
    // exchange — no gram-table aggregate, no join, single corpus scan.
    val wH = Window.partitionBy(col("h"))
    val wHD = Window.partitionBy(col("h"), col("doc_id"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = grams
      .withColumn("shared",
        count(lit(1)).over(wH) > count(lit(1)).over(wHD))
      .filter(col("shared"))
      .select(col("doc_id"), col("pos"))
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .withColumn("cov",
        when(col("nxt").isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong), col("nxt") - col("pos"))))
      .groupBy("doc_id").agg(sum(col("cov")).as("dup_tokens"))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        floor(lit(1000.0) * coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"))
          .cast("long").as("dup_permille"))
      .orderBy("doc_id")
  }

  lazy val substringDupStatsSql: String = {
    val k = SUBSTR_TOKENS
    s"""WITH b AS (SELECT doc_id,
      |    regexp_split_to_array(trim(text), '\\s+') AS toks,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |        CAST(concat('0x', substr(md5(
      |          array_to_string(toks[i:i+${k - 1}], ' ')), 1, 15)) AS BIGINT) AS h
      |      FROM b, unnest(range(1, n_tokens - $k + 2)) r(i)
      |      WHERE n_tokens >= $k),
      |sh AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h)
      |       WHERE nd >= 2),
      |f AS (SELECT doc_id, pos,
      |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |      FROM g JOIN sh USING (h)),
      |c AS (SELECT doc_id,
      |        sum(CASE WHEN nxt IS NULL THEN $k
      |                 ELSE least($k, nxt - pos) END) AS dup_tokens
      |      FROM f GROUP BY doc_id)
      |SELECT b.doc_id, n_tokens,
      |  CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  CAST(floor(1000.0 * COALESCE(dup_tokens, 0) / n_tokens) AS BIGINT)
      |    AS dup_permille
      |FROM b LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------- LSH recall evaluation
  /** d19: recall curve of the d04 MinHash-LSH candidate generation against
    * EXACT Jaccard ground truth — the dedup analog of s10's ANN recall
    * eval, i.e. the measurement every LSH deployment runs before trusting
    * a (BANDS, SIG_N/BANDS) choice at 100 TB. Per true-similarity decile
    * `floor(jaccard*10)`, reports how many truly-overlapping pairs exist
    * and how many the banding surfaced — the observed S-curve to hold
    * against the theoretical 1-(1-j^r)^b.
    *
    * Ground truth is exact but BOUNDED: only pairs touching a
    * deterministic 1-in-[[RECALL_SAMPLE_MOD]] query sample are scored
    * (the s10 discipline — ground truth cost is sample-proportional, not
    * corpus²), and candidate partners come from the shingle inverted
    * index, so only pairs sharing ≥ 1 shingle ever materialize (a
    * zero-overlap pair has Jaccard 0 and cannot be a recall denominator).
    * Jaccard is computed over distinct HASHED shingles — same collision
    * semantics as every d-family operator, so the oracle hash-matches.
    *
    * Scale shape: the sample filter lands on the scan; the intersection
    * join carries (doc_id, hash) longs; sizes fold from the same distinct
    * shingle frame; the LSH side reuses the d04 band pipeline with the
    * sample restriction pushed into the self-join's left side. Exact
    * integer counts cross the engine boundary; the only doubles are
    * single IEEE divides both engines reproduce bit-identically.
    */
  val RECALL_SAMPLE_MOD = 13L

  /** Exact-Jaccard ground truth for the recall evals: (id_q, id_c,
    * bucket=floor(j·10)) over pairs touching the query sample. Shared by
    * d19 and the d20 sweep (truth is banding-independent).
    */
  private def recallTruth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // same stop-shingle cap as the d03 posting pipeline: without it one
    // viral shingle makes partner generation corpus-proportional (a
    // sample doc containing it would pair with every holder). Jaccard is
    // then over the CAPPED shingle universe on both sides of the ratio —
    // consistent, d03-matching semantics; a no-op on this corpus (max
    // posting 25 « 500) but the bound the 100 TB run needs. The cap
    // window partitions on sh — the same hash partitioning the
    // intersection join reuses.
    val corpusSh = shingleTable(docs, hashed = true)  // distinct (doc_id, sh)
      .withColumn("plen", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("plen") <= MAX_POSTING_LEN).drop("plen")
    val sizes = corpusSh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val sampleSh = corpusSh.filter(col("doc_id") % RECALL_SAMPLE_MOD === 0)
    val inter = sampleSh.as("a")
      .join(corpusSh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_q"), col("b.doc_id").as("id_c"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.toDF("id_q", "sz_q"), "id_q")
      .join(sizes.toDF("id_c", "sz_c"), "id_c")
      .withColumn("j",
        col("i").cast("double") / (col("sz_q") + col("sz_c") - col("i")))
      .select(col("id_q"), col("id_c"),
        floor(col("j") * 10).cast("long").as("bucket"))
  }

  /** Sample-restricted LSH candidate pairs of a banded-key frame, with a
    * constant hit marker for the left join against [[recallTruth]].
    */
  private def recallCandidates(banded: DataFrame): DataFrame =
    banded.filter(col("doc_id") % RECALL_SAMPLE_MOD === 0).as("q")
      .join(banded.as("x"),
        col("q.band_idx") === col("x.band_idx") &&
          col("q.band_key") === col("x.band_key") &&
          col("q.doc_id") =!= col("x.doc_id"))
      .select(col("q.doc_id").as("id_q"), col("x.doc_id").as("id_c"))
      .distinct()
      .withColumn("hit", lit(1L))

  def lshRecallCurve(s: SparkSession, d: String): DataFrame = {
    val cand = recallCandidates(
      bandedKeys(minhashSignatures(Tables.documents(s, d))))
    recallTruth(s, d).join(cand, Seq("id_q", "id_c"), "left")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_lsh_hit"))
      .orderBy("bucket")
  }

  // ------------------------------------------------ LSH parameter sweep
  /** d20: the (bands × rows) parameter sweep — d19's recall curve at every
    * banding of the SAME [[SIG_N]]-minhash signatures (4×8, 8×4, 16×2),
    * one curve per config. This is the tuning artifact: the S-curve
    * 1-(1-j^r)^b steepens toward high similarity as rows-per-band grow,
    * and the sweep shows the measured trade (16 bands light up the noise
    * floor, 4 bands go dark below j≈0.9) so the production (b, r) choice
    * is made on evidence, not the formula alone. Banding is a projection
    * of the SAME signature frame, so the marginal cost per config is one
    * thin band self-join; the registered query leaves the shared truth/
    * signature subtrees uncached (the d14/d15 per-query-isolation
    * discipline — no persist leaks into a long-lived session), so
    * whether they recompute per branch is Spark's exchange-reuse call —
    * which, measured (round 11, PLANS.md), absorbs most of it within
    * this one action: the checkpointed variant ([[lshBandSweepAmortized]],
    * registered as d22) prices at parity here and wins only when sweep
    * branches span actions.
    */
  val SWEEP_BANDS: Seq[Int] = Seq(4, 8, 16)

  def lshBandSweep(s: SparkSession, d: String): DataFrame =
    sweepCurvesOver(recallTruth(s, d), minhashSignatures(Tables.documents(s, d)))

  /** d22: [[lshBandSweep]] with the two shared subtrees — the exact-
    * Jaccard truth and the [[SIG_N]]-minhash signature frame — eagerly
    * checkpointed ONCE, so each sweep branch reads materialized rows
    * regardless of how many ACTIONS consume them. Oracled by the SAME
    * SQL as d20 (identical rows by construction); DedupCapSpec pins
    * frame-equality with d20.
    *
    * MEASURED (round 11, PLANS.md scaling sweep): within the single
    * action the registered key runs, this is a WASH vs d20 — 3.1 vs
    * 3.0 s at sf0.1, 7.9 vs 7.0 s at 10× — because Spark's runtime
    * exchange reuse already absorbs most shared-subtree recomputation
    * inside one action, while the eager localCheckpoint pays its
    * materialization up front. The amortized face earns its keep when
    * sweep branches span actions: interactive tuning that evaluates
    * (b, r) configs one at a time, resumable sweeps, or any session
    * that re-reads the truth/signature frames — there each extra
    * config costs one thin band self-join instead of the full posting
    * pipeline. Registered so the bench PRICES the checkpoint variant
    * honestly next to d20 rather than asserting the win.
    */
  def lshBandSweepAmortized(s: SparkSession, d: String): DataFrame =
    sweepCurvesOver(recallTruth(s, d).localCheckpoint(true),
      minhashSignatures(Tables.documents(s, d)).localCheckpoint(true))

  /** One recall curve per [[SWEEP_BANDS]] config over given truth/
    * signature frames — shared by d20 (isolated) and d22 (amortized) so
    * the sweep semantics cannot drift between the two faces.
    */
  private def sweepCurvesOver(truth: DataFrame, sigs: DataFrame): DataFrame =
    SWEEP_BANDS.map { b =>
      val cand = recallCandidates(bandedKeysAt(sigs, b))
      truth.join(cand, Seq("id_q", "id_c"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_lsh_hit"))
        .withColumn("bands", lit(b.toLong))
    }.reduce(_ unionByName _)
      .select(col("bands"), col("bucket"), col("n_true"), col("n_lsh_hit"))
      .orderBy("bands", "bucket")

  /** Shared truth CTE chain (capped postings → sizes → intersections →
    * similarity deciles) for the d19/d20 oracles — generated once, like
    * [[minhashCtePrefixSql]], so the eval oracles cannot drift apart.
    */
  private lazy val recallTruthCtesSql: String =
    s"""hs0 AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(sh),1,15)) AS BIGINT) AS h
       |        FROM g),
       |hs AS (SELECT doc_id, h FROM (
       |         SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS plen FROM hs0)
       |       WHERE plen <= $MAX_POSTING_LEN),
       |sz AS (SELECT doc_id, count(*) AS sz FROM hs GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_q, b.doc_id AS id_c, count(*) AS i
       |          FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id <> b.doc_id
       |          WHERE a.doc_id % $RECALL_SAMPLE_MOD = 0
       |          GROUP BY 1, 2),
       |truth AS (SELECT id_q, id_c,
       |            CAST(floor(CAST(i AS DOUBLE) / (q.sz + c.sz - i) * 10) AS BIGINT) AS bucket
       |          FROM inter JOIN sz q ON q.doc_id = id_q JOIN sz c ON c.doc_id = id_c)""".stripMargin

  /** d19 oracle — shares [[minhashCtePrefixSql]] (shingles → signatures →
    * bands) and [[recallTruthCtesSql]], so a seed/band/cap change cannot
    * desynchronize eval and subject.
    */
  lazy val lshRecallCurveSql: String =
    s"""$minhashCtePrefixSql,
       |$recallTruthCtesSql,
       |cand AS (SELECT DISTINCT a.doc_id AS id_q, b.doc_id AS id_c
       |         FROM bands a JOIN bands b
       |           ON a.band_idx = b.band_idx AND a.bkey = b.bkey
       |          AND a.doc_id <> b.doc_id
       |         WHERE a.doc_id % $RECALL_SAMPLE_MOD = 0)
       |SELECT bucket, count(*) AS n_true,
       |  CAST(count(c.id_q) AS BIGINT) AS n_lsh_hit
       |FROM truth t LEFT JOIN cand c ON t.id_q = c.id_q AND t.id_c = c.id_c
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** d20 oracle — the same prefix/truth fragments, one band CTE + curve
    * per sweep config ([[bandSelectsSqlAt]] mirrors [[bandedKeysAt]]).
    */
  lazy val lshBandSweepSql: String = {
    val candCtes = SWEEP_BANDS.map { b =>
      // the default banding's CTE already exists in the prefix — reuse
      // it instead of emitting a textually identical bands$BANDS block
      val src = if (b == BANDS) "bands" else s"bands$b"
      val bandCte = if (b == BANDS) ""
        else s"""bands$b AS (
           |  ${bandSelectsSqlAt(b)}),
           |""".stripMargin
      s"""${bandCte}cand$b AS (SELECT DISTINCT a.doc_id AS id_q, b.doc_id AS id_c
         |  FROM $src a JOIN $src b
         |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id % $RECALL_SAMPLE_MOD = 0)""".stripMargin
    }.mkString(",\n")
    val curves = SWEEP_BANDS.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS bands, bucket, count(*) AS n_true,
         |    CAST(count(c.id_q) AS BIGINT) AS n_lsh_hit
         |  FROM truth t LEFT JOIN cand$b c ON t.id_q = c.id_q AND t.id_c = c.id_c
         |  GROUP BY bucket""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$minhashCtePrefixSql,
       |$recallTruthCtesSql,
       |$candCtes
       |SELECT bands, bucket, n_true, n_lsh_hit FROM (
       |  $curves)
       |ORDER BY bands, bucket""".stripMargin
  }

  // ----------------------------------------------- d24 chunk-grain dedup
  /** d24: chunk-grain dedup accounting: how much of each language's
    * CHUNK mass is duplicated content that document-level d01 can never
    * see (navigation boilerplate, license blocks, templated paragraphs
    * shared across distinct pages).
    * Chunks come from the shared t27 kernel; identity is the 60-bit
    * chunk hash; dup_ppm is the deduplicatable fraction and max_mult the
    * hottest boilerplate chunk's multiplicity.
    *
    * Scale shape: the t27 one-scan explode, then ONE exchange on
    * (lang, chunk_hash) — 8-byte keys, never chunk text — collapsed
    * map-side, and a |langs|-row rollup. Integer div only.
    */
  def chunkDedup(s: SparkSession, d: String): DataFrame =
    TextOps.ragChunkRows(Tables.documents(s, d), Seq("lang"))
      .groupBy(col("lang"), col("chunk_hash"))
      .agg(count(lit(1)).as("mult"))
      .groupBy("lang")
      .agg(sum(col("mult")).as("n_chunks"),
        count(lit(1)).as("n_unique"),
        sum(col("mult") - 1).as("dup_chunks"),
        max(col("mult")).as("max_mult"))
      .withColumn("dup_ppm", expr("dup_chunks * 1000000 div n_chunks"))
      .orderBy("lang")

  /** d24 oracle: the t27 chunk CTE carrying lang, multiplicity per
    * (lang, hash), and the same integer rollup.
    */
  lazy val chunkDedupSql: String = {
    val W = TextOps.CHUNK_W; val S = TextOps.CHUNK_S
    s"""WITH t AS (SELECT doc_id, lang,
       |    regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents WHERE len(trim(text)) > 0),
       |c AS (SELECT doc_id, lang, tk, len(tk) AS n,
       |    unnest(range(0, len(tk), $S)) AS start FROM t),
       |h AS (SELECT lang,
       |    CAST(concat('0x', substr(md5(array_to_string(tk[start+1:start+$W], ' ')),1,15)) AS BIGINT) AS ch
       |  FROM c WHERE start = 0 OR n > start + ${W - S}),
       |m AS (SELECT lang, ch, count(*) AS mult FROM h GROUP BY 1, 2)
       |SELECT lang, CAST(sum(mult) AS BIGINT) AS n_chunks,
       |  count(*) AS n_unique,
       |  CAST(sum(mult - 1) AS BIGINT) AS dup_chunks,
       |  CAST(max(mult) AS BIGINT) AS max_mult,
       |  CAST(sum(mult - 1) AS BIGINT) * 1000000 // CAST(sum(mult) AS BIGINT) AS dup_ppm
       |FROM m GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** All dedup queries keyed for SparkEntry (oracle-checked where SQL can
    * express them; minhash/simhash are verified by scalatest instead).
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d25_component_census" -> (componentCensus _),
    "d24_chunk_dedup" -> (chunkDedup _),
    "d22_band_sweep_amortized" -> (lshBandSweepAmortized _),
    "d21_neardup_report" -> (neardupReportUnified _),
    "d20_lsh_band_sweep" -> (lshBandSweep _),
    "d19_lsh_recall" -> (lshRecallCurve _),
    "d01_dedup_exact" -> (dedupExactSurvivors _),
    "d02_dedup_stats" -> (dedupExactStats _),
    "d03_ngram_jaccard" -> (ngramJaccardPairs _),
    "d04_minhash_lsh" -> ((s: SparkSession, d: String) => minhashLshPairs(s, d)),
    "d05_simhash" -> (simhashFingerprints _),
    "d07_neardup_survivors" -> (neardupSurvivors _),
    "d08_shingle_freq_histogram" -> (shingleFreqHistogram _),
    "d09_simhash_neardup" -> (simhashNearDupPairs _),
    "d10_paragraph_dedup" -> (paragraphDedupStats _),
    "d11_cross_source_dups" -> (crossSourceDupMatrix _),
    "d12_containment" -> (containmentPairs _),
    "d13_substring_dedup" -> (substringDupStats _),
    "d14_quality_survivors" -> (qualitySurvivors _),
    "d15_edit_distance" -> (editDistancePairs _),
    "d23_forget_dedup" -> (incrementalNearDupDeleted _),
    "d16_incremental_neardup" -> (incrementalNearDup _),
    "d17_incremental_exact" -> (incrementalExact _),
    "d18_exact_then_near" -> (exactThenNear _))

  val oracles: Map[String, String] = Map(
    "d25_component_census" -> componentCensusSql,
    "d24_chunk_dedup" -> chunkDedupSql,
    "d22_band_sweep_amortized" -> lshBandSweepSql,
    "d21_neardup_report" -> neardupReportUnifiedSql,
    "d20_lsh_band_sweep" -> lshBandSweepSql,
    "d19_lsh_recall" -> lshRecallCurveSql,
    "d18_exact_then_near" -> exactThenNearSql,
    "d17_incremental_exact" -> incrementalExactSql,
    "d23_forget_dedup" -> incrementalNearDupDeletedSql,
    "d16_incremental_neardup" -> incrementalNearDupSql,
    "d15_edit_distance" -> editDistancePairsSql,
    "d14_quality_survivors" -> qualitySurvivorsSql,
    "d13_substring_dedup" -> substringDupStatsSql,
    "d12_containment" -> containmentPairsSql,
    "d11_cross_source_dups" -> crossSourceDupMatrixSql,
    "d10_paragraph_dedup" -> paragraphDedupStatsSql,
    "d01_dedup_exact" -> dedupExactSurvivorsSql,
    "d02_dedup_stats" -> dedupExactStatsSql,
    "d03_ngram_jaccard" -> ngramJaccardPairsSql,
    "d04_minhash_lsh" -> minhashLshPairsSql,
    "d05_simhash" -> simhashFingerprintsSql,
    "d07_neardup_survivors" -> neardupSurvivorsSql,
    "d08_shingle_freq_histogram" -> shingleFreqHistogramSql,
    "d09_simhash_neardup" -> simhashNearDupPairsSql)
}
