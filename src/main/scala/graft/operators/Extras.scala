package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Udafs

/** Remaining SURVEY §2.6 surface: pivot, approximate distinct sketches,
  * custom UDAF, explode/UDTF-style top-k terms.
  */
object Extras {

  /** Pivot on a known value set: per-user event-type counts as columns.
    * (Fixed value list = single pass, no driver-side distinct collection —
    * the scale-safe pivot form.)
    */
  def pivotEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  val pivotEventsSql: String =
    """SELECT user_id,
      |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
      |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q51: UNPIVOT (melt) — q25's inverse: a wide per-lang aggregate melted
    * into tidy (lang, metric, value) rows, the shape monitoring/reporting
    * sinks want. Spark's native `unpivot` plans an Expand (one projection
    * per metric, no join, no shuffle beyond the source aggregate).
    */
  def unpivotStats(s: SparkSession, d: String): DataFrame =
    graft.Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        max(col("n_chars")).cast("long").as("max_chars"))
      .unpivot(Array(col("lang")),
        Array(col("n_docs"), col("total_chars"), col("max_chars")),
        "metric", "value")
      .orderBy("lang", "metric")

  val unpivotStatsSql: String =
    """WITH w AS (SELECT lang, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    CAST(max(n_chars) AS BIGINT) AS max_chars
      |  FROM documents GROUP BY lang)
      |SELECT lang, metric, value FROM (
      |  UNPIVOT w ON n_docs, total_chars, max_chars
      |  INTO NAME metric VALUE value)
      |ORDER BY lang, metric""".stripMargin

  /** HyperLogLog++ approximate distinct counts, oracled via the q63
    * contract stance: an engine-specific sketch estimate can never
    * hash-match a second engine, so the OUTPUT is the contract — the
    * exact per-group distinct plus a `within_10pct` boolean holding the
    * estimate against it. rsd=0.02 puts the 10% bound 5σ out (the q63
    * sizing discipline), so the boolean is stable, not lucky; the oracle
    * computes the exact counts and asserts TRUE, and any sketch
    * regression flips a boolean and fails the hash. (Production keeps
    * only the sketch; the exact count exists for verification.)
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    // pre-distinct instead of agg(countDistinct, approx_count_distinct):
    // the pair plans an Expand that doubles every input row through the
    // aggregate, while HLL registers are SET-functions — identical over
    // deduped input — so distinct-then-count produces bit-identical
    // values (exact count AND sketch estimate) from half the aggregated
    // volume and one fewer codegen stage (measured 2.10 -> 1.03 s at
    // sf0.1; the spec pins value-identity with the Expand form)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(
        // count(l_partkey), not count(*): over the pre-distincted pairs the
        // two differ only on NULL partkeys, and countDistinct (the replaced
        // form whose bit-identity the spec pins) excludes NULLs — match its
        // null semantics by construction instead of by testdata accident
        count(col("l_partkey")).cast("long").as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx").cast("double") - col("exact_parts").cast("double"))
          <= lit(0.10) * col("exact_parts").cast("double")).as("within_10pct"))
      .orderBy("l_returnflag")

  /** q26 oracle: exact distincts, booleans asserted TRUE (q63 stance). */
  val approxDistinctSql: String =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  TRUE AS within_10pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Custom typed Aggregator (UDAF): quantity-weighted mean price per
    * return flag, with exact decimal partials (oracle-matchable).
    */
  def weightedAvgPrice(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wm = udaf(Udafs.WeightedMean)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(wm(col("l_extendedprice"), col("l_quantity")).as("weighted_price"))
      .orderBy("l_returnflag")
  }

  val weightedAvgPriceSql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS weighted_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Explode (UDTF-style) term frequencies: top-20 tokens corpus-wide.
    * One explode + one hash aggregate + TakeOrdered — linear at any scale.
    */
  def topTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

  val topTokensSql: String =
    """SELECT tok, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  /** Array scalar functions over the embedding vectors (no arithmetic
    * reassociation — min/max/indexing are order-free and exact).
    */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        array_min(col("embedding")).cast("double").as("dim_min"),
        array_max(col("embedding")).cast("double").as("dim_max"),
        element_at(col("embedding"), 1).cast("double").as("dim_first"))
      .orderBy("vec_id")

  val arrayFuncsSql: String =
    """SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
      |  CAST(list_min(embedding) AS DOUBLE) AS dim_min,
      |  CAST(list_max(embedding) AS DOUBLE) AS dim_max,
      |  CAST(embedding[1] AS DOUBLE) AS dim_first
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Math scalars — only IEEE-exact ops (sqrt/abs/floor/ceil/mod); libm
    * functions (ln, pow, trig) differ across engines at the last ulp and
    * would break hash comparison.
    */
  def mathFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        sqrt(col("value")).as("sqrt_v"),
        abs(col("value") - 250.0).as("abs_dev"),
        floor(col("value")).cast("long").as("floor_v"),
        ceil(col("value")).cast("long").as("ceil_v"),
        pmod(col("event_id"), lit(7)).as("mod7"))
      .orderBy("event_id")

  val mathFuncsSql: String =
    """SELECT event_id, sqrt(value) AS sqrt_v, abs(value - 250.0) AS abs_dev,
      |  CAST(floor(value) AS BIGINT) AS floor_v, CAST(ceil(value) AS BIGINT) AS ceil_v,
      |  event_id % 7 AS mod7
      |FROM events ORDER BY event_id""".stripMargin

  /** q55: statistical moments (variance/stddev/correlation/least-squares
    * fit) per (returnflag, linestatus). Built-in `stddev_samp`/`corr` use
    * streaming merge formulas whose float rounding differs across engines
    * and partition orders, so the hash-checked form derives every moment
    * from EXACT integer power sums (n, Σx, Σy, Σx², Σy², Σxy over
    * quantized bigints — order-independent, overflow-free at test scale)
    * and then evaluates one identical double expression on both engines:
    * same exact inputs + same IEEE op order = bit-equal doubles.
    * StatsMomentsSpec cross-checks the built-in aggregates against these
    * exact forms, so the built-in surface is covered without betting the
    * hash on its rounding. At 100 TB the power sums exceed int64 (Σy² is
    * ~1e14 per million rows at cent scale) — the same query with the six
    * sums cast to decimal(38,0) keeps exactness; sums here stay < 2^53 so
    * even the double casts are exact.
    */
  def statsMoments(s: SparkSession, d: String): DataFrame = {
    val dbl: String => Column = c => col(c).cast("double")
    Tables.lineitem(s, d)
      .select(
        col("l_returnflag"), col("l_linestatus"),
        floor(col("l_quantity")).cast("long").as("qx"),
        floor(col("l_extendedprice")).cast("long").as("qy"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("qx")).as("sx"),
        sum(col("qy")).as("sy"),
        sum(col("qx") * col("qx")).as("sxx"),
        sum(col("qy") * col("qy")).as("syy"),
        sum(col("qx") * col("qy")).as("sxy"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("n"),
        col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"),
        (dbl("sx") / dbl("n")).as("mean_x"),
        ((dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) /
          (dbl("n") * (dbl("n") - lit(1.0)))).as("var_x"),
        sqrt((dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) /
          (dbl("n") * (dbl("n") - lit(1.0)))).as("stddev_x"),
        ((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
          (sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) *
            sqrt(dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")))).as("corr_xy"),
        ((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
          (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))).as("slope_yx"),
        ((dbl("sy") - ((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
          (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))) * dbl("sx")) /
          dbl("n")).as("intercept_yx"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val statsMomentsSql: String =
    """WITH q AS (SELECT l_returnflag, l_linestatus,
      |    CAST(floor(l_quantity) AS BIGINT) AS qx,
      |    CAST(floor(l_extendedprice) AS BIGINT) AS qy
      |  FROM lineitem),
      |s AS (SELECT l_returnflag, l_linestatus,
      |    count(*) AS n,
      |    CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
      |    CAST(sum(qx*qx) AS BIGINT) AS sxx, CAST(sum(qy*qy) AS BIGINT) AS syy,
      |    CAST(sum(qx*qy) AS BIGINT) AS sxy
      |  FROM q GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, n, sx, sy, sxx, syy, sxy,
      |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
      |  (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_x,
      |  sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev_x,
      |  (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |       * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) AS corr_xy,
      |  (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS slope_yx,
      |  (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS intercept_yx
      |FROM s ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** lgConfigK for the q63 sketches: 2^14 registers ⇒ ~0.41% RSE, so the
    * 2% output contract sits ~5σ out — the booleans are stable, not lucky.
    */
  private val HLL_LG_K = 14

  /** q63: re-aggregatable HLL rollup — the materialized-view pattern that
    * makes distinct-count dashboards 100 TB-viable: persist one Datasketches
    * HLL sketch per group (here: distinct users per event_type), then
    * answer ANY coarser rollup by UNIONING sketches — never rescanning the
    * fact table. HLL union is a per-register max, so it is
    * order/partitioning-independent and loses no accuracy vs sketching the
    * raw data directly (pinned in ExtrasSpec).
    *
    * Approximate values can't hash-match a second engine, so the output is
    * the CONTRACT, not the estimate (the q26 lesson, made oracle-checkable):
    * exact per-group distincts plus a `within_2pct` boolean comparing each
    * sketch estimate — and the union-derived global estimate — against the
    * exact count. The oracle computes the exact counts and asserts the
    * booleans TRUE; a sketch regression flips a boolean and fails the hash.
    * (The exact countDistincts exist for verification; production keeps
    * only the sketches.)
    */
  def hllRollup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val perType = ev.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(HLL_LG_K)).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    def within(est: Column, exact: Column): Column =
      abs(est.cast("double") - exact.cast("double")) <= lit(0.02) * exact.cast("double")
    val typed = perType.select(lit("type").as("level"),
      col("event_type").as("key"), col("n_exact").cast("long").as("n_exact"),
      within(hll_sketch_estimate(col("sk")), col("n_exact")).as("within_2pct"))
    // global = union of the five per-type sketches; the fact table is NOT
    // rescanned for the estimate (only for the exact verification count)
    val unionEst = perType.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val global = ev.agg(countDistinct(col("user_id")).as("n_exact"))
      .crossJoin(unionEst)
      .select(lit("total").as("level"), lit("all").as("key"),
        col("n_exact").cast("long").as("n_exact"),
        within(col("est"), col("n_exact")).as("within_2pct"))
    typed.unionByName(global).orderBy("level", "key")
  }

  val hllRollupSql: String =
    """SELECT level, key, n_exact, within_2pct FROM (
      |  SELECT 'type' AS level, event_type AS key,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, TRUE AS within_2pct
      |  FROM events GROUP BY event_type
      |  UNION ALL
      |  SELECT 'total', 'all', CAST(count(DISTINCT user_id) AS BIGINT), TRUE
      |  FROM events)
      |ORDER BY level, key""".stripMargin

  /** q66 histogram geometry: 128 bins × 400 cents covers [0, 512.00] —
    * events.value tops out ≈ 490 (and ScaleData's shard bijection preserves
    * the value distribution), so the overflow-capped last bin stays empty
    * and the within-bin bound below is provable, not empirical.
    */
  private[graft] val HIST_BIN_CENTS = 400L
  private[graft] val HIST_NBINS     = 128L

  /** The q66 histogram geometry: value → integer cents → capped bin id.
    * The division is exact: the dividend is reduced to a multiple of the
    * bin width first, so no float-quotient edge case exists at any
    * magnitude.
    */
  private[graft] def centsOf(value: Column): Column =
    floor(value * 100.0).cast("long")

  private[graft] def binOfCents(cents: Column): Column =
    least(((cents - pmod(cents, lit(HIST_BIN_CENTS))) / lit(HIST_BIN_CENTS))
      .cast("long"), lit(HIST_NBINS - 1))

  /** Quantile estimates off a (key, bin, n) histogram frame — the read
    * half of q66's mergeable sketch.
    */
  private[graft] def histEstimates(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wcum = Window.partitionBy(col("key")).orderBy(col("bin"))
    val wtot = Window.partitionBy(col("key"))
    hist
      .withColumn("cum", sum(col("n")).over(wcum))
      .withColumn("n_tot", sum(col("n")).over(wtot))
      .groupBy(col("key"))
      .agg(max(col("n_tot")).as("n"),
        min(when(col("cum") >= expr("(n_tot + 1) div 2"), col("bin"))).as("b50"),
        min(when(col("cum") >= expr("(9 * n_tot + 9) div 10"), col("bin"))).as("b90"))
      .select(col("key"), col("n"),
        ((col("b50") + 1) * HIST_BIN_CENTS).as("est_p50_cents"),
        ((col("b90") + 1) * HIST_BIN_CENTS).as("est_p90_cents"))
  }

  /** q66: mergeable histogram-quantile rollup — q63's materialized-view
    * pattern applied to percentile dashboards: persist one fixed-geometry
    * 128-bin histogram per group (event_type × counts of floor(value·100)
    * cents), then answer ANY coarser rollup's p50/p90 by SUMMING bin
    * counts — the fact table is never rescanned for the rollup (`all` below
    * is derived purely from the per-type histograms). Bin-count addition is
    * associative/commutative, so the merge is partitioning-independent —
    * the same reason HLL unions are (q63) — and a day's delta histogram
    * absorbs into a running one by vector addition.
    *
    * Unlike HLL, every quantity here is exactly deterministic (integer
    * bins, integer targets ceil(q·n) = (q·n + denom−1) div denom), so the
    * whole output hash-matches the oracle — including the within-one-bin
    * contract booleans, which compare the histogram estimate (upper edge of
    * the target bin) against the true discrete quantile: the true quantile
    * lies inside the target bin by construction, so 0 < est − exact ≤ bin
    * width always; a binning/merge regression flips the boolean and fails
    * the hash. (The exact quantiles exist for verification; production
    * keeps only the 128-long histogram vectors.)
    */
  def histQuantileRollup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(col("event_type"),
      centsOf(col("value")).as("cents"))
    // the persisted sketch: one 128-long vector per event_type. ONE scan of
    // the fact table, then localCheckpoint (≤ |types|·128 rows — bounded by
    // geometry, not data) so the rollup below provably derives from the
    // sketch, not from a re-planned rescan of events.
    val perType = ev
      .withColumn("bin", binOfCents(col("cents")))
      .groupBy(col("event_type").as("key"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // rollup = bin-wise sum of the per-type vectors; no fact-table rescan
    val merged = perType.groupBy(col("bin")).agg(sum(col("n")).as("n"))
      .select(lit("all").as("key"), col("bin"), col("n"))
    val est = histEstimates(perType.unionByName(merged))
    // exact discrete quantiles (verification only): min cents with
    // cum ≥ ceil(q·n). GROUPING SETS carries both levels through one scan +
    // Expand; the per-key windows are bounded by the cents VALUE DOMAIN
    // (≤ 51 200 distinct values), never by corpus size (the q47 discipline).
    val vals = ev
      .groupingSets(Seq(Seq(col("event_type"), col("cents")), Seq(col("cents"))),
        col("event_type"), col("cents"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("event_type"), lit("all")).as("key"), col("cents"), col("n"))
    val wv = Window.partitionBy(col("key")).orderBy(col("cents"))
    val wvt = Window.partitionBy(col("key"))
    val exact = vals
      .withColumn("cum", sum(col("n")).over(wv))
      .withColumn("n_tot", sum(col("n")).over(wvt))
      .groupBy(col("key"))
      .agg(min(when(col("cum") >= expr("(n_tot + 1) div 2"), col("cents"))).as("x50"),
        min(when(col("cum") >= expr("(9 * n_tot + 9) div 10"), col("cents"))).as("x90"))
    est.join(exact, "key")
      .select(col("key"), col("n"),
        col("est_p50_cents"), col("est_p90_cents"),
        (col("est_p50_cents") - col("x50")).between(1L, HIST_BIN_CENTS).as("p50_within_bin"),
        (col("est_p90_cents") - col("x90")).between(1L, HIST_BIN_CENTS).as("p90_within_bin"))
      .orderBy("key")
  }

  val histQuantileRollupSql: String =
    s"""WITH ev AS (SELECT event_type, CAST(floor(value * 100.0) AS BIGINT) AS cents
      |            FROM events),
      |pt AS (SELECT event_type AS key,
      |         least(cents // $HIST_BIN_CENTS, ${HIST_NBINS - 1}) AS bin,
      |         count(*) AS n
      |       FROM ev GROUP BY 1, 2),
      |hist AS (SELECT * FROM pt UNION ALL
      |         SELECT 'all', bin, CAST(sum(n) AS BIGINT) FROM pt GROUP BY bin),
      |cum AS (SELECT key, bin, sum(n) OVER (PARTITION BY key ORDER BY bin) AS cum,
      |          sum(n) OVER (PARTITION BY key) AS n_tot FROM hist),
      |est AS (SELECT key, CAST(max(n_tot) AS BIGINT) AS n,
      |          (min(CASE WHEN cum >= (n_tot + 1) // 2 THEN bin END) + 1)
      |            * $HIST_BIN_CENTS AS est_p50_cents,
      |          (min(CASE WHEN cum >= (9 * n_tot + 9) // 10 THEN bin END) + 1)
      |            * $HIST_BIN_CENTS AS est_p90_cents
      |        FROM cum GROUP BY key),
      |vals AS (SELECT key, cents, count(*) AS n FROM (
      |           SELECT event_type AS key, cents FROM ev
      |           UNION ALL SELECT 'all', cents FROM ev)
      |         GROUP BY key, cents),
      |vcum AS (SELECT key, cents, sum(n) OVER (PARTITION BY key ORDER BY cents) AS cum,
      |           sum(n) OVER (PARTITION BY key) AS n_tot FROM vals),
      |exact AS (SELECT key,
      |            min(CASE WHEN cum >= (n_tot + 1) // 2 THEN cents END) AS x50,
      |            min(CASE WHEN cum >= (9 * n_tot + 9) // 10 THEN cents END) AS x90
      |          FROM vcum GROUP BY key)
      |SELECT key, n, est_p50_cents, est_p90_cents,
      |  est_p50_cents - x50 BETWEEN 1 AND $HIST_BIN_CENTS AS p50_within_bin,
      |  est_p90_cents - x90 BETWEEN 1 AND $HIST_BIN_CENTS AS p90_within_bin
      |FROM est JOIN exact USING (key) ORDER BY key""".stripMargin

  // ----------------------------------------------------- q68 KMV overlap
  /** Sketch size for the q68 audience sketches. 64 keeps the estimator
    * path oracle-exercised at sf0.01 (per-day audiences ≈ 130 > k) while
    * the sf0.001 fixtures (15 users) exercise the exact small-set path.
    */
  private[graft] val KMV_K = 64

  /** KMV estimate of a sketch column: exact size below k, else the
    * classic (k−1)·D/h_k with D = 2^60 (the hash domain). Both factors
    * of the numerator are exactly representable doubles (63·2^60 has a
    * 6-bit mantissa), so the single IEEE multiply+divide+floor chain is
    * bit-identical across engines — the t15 "one IEEE divide" discipline.
    */
  private[graft] def kmvEst(sk: Column): Column =
    when(size(sk) < KMV_K, size(sk).cast("long"))
      .otherwise(floor(lit(63.0) * lit(1152921504606846976.0) /
        element_at(sk, KMV_K).cast("double")).cast("long"))

  /** q68: day-over-day audience overlap from mergeable KMV sketches —
    * the set-INTERSECTION question q63's HLL rollup cannot answer
    * (HLL unions; it has no intersection). One pass over the fact table
    * builds a k-long sketch per day via [[graft.expressions.KmvSketchAgg]]
    * (bounded buffer ⇒ the exchange carries ≤ k longs per mapper per day,
    * never the distinct-value stream); every pairwise statistic is then
    * computed on the 30-row sketch table with array functions — union
    * sketch = k smallest of the merged arrays (exact KMV union), Jaccard
    * = k-min coincidence, intersection = inclusion–exclusion, clamped at
    * 0. All outputs are deterministic integers: the oracle replays the
    * sketches and hash-matches the ESTIMATES, not just bound booleans.
    * Accuracy (CV ≈ 1/√(k−2) ≈ 13%) is pinned in ExtrasSpec, not here.
    */
  def kmvAudienceOverlap(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.KmvSketch
    val ev = Tables.events(s, d).select(
      date_format(to_date(TimeWindows.eventTime), "yyyy-MM-dd").as("day"),
      Dedup.baseHash(col("user_id").cast("string")).as("hv"))
    // one fact scan: the sketch table is ≤ |days| rows × k longs, so the
    // self-join reads the checkpointed blocks, not the corpus twice (the
    // q66/p11 bounded-frame discipline)
    val sk = ev.groupBy("day").agg(KmvSketch.sketch(col("hv"), KMV_K).as("sk"))
      .localCheckpoint()
    val a = sk.select(col("day").as("day_a"), col("sk").as("sk_a"))
    val b = sk.select(col("day").as("day_b"), col("sk").as("sk_b"))
    // consecutive-day pairs: |days|−1 rows; the small side broadcasts
    val pairs = a.join(broadcast(b),
      date_add(to_date(col("day_a")), 1) === to_date(col("day_b")))
    pairs
      .withColumn("sk_u",
        slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, KMV_K))
      .withColumn("est_a", kmvEst(col("sk_a")))
      .withColumn("est_b", kmvEst(col("sk_b")))
      .withColumn("est_union", kmvEst(col("sk_u")))
      .withColumn("matches", size(array_intersect(
        array_intersect(col("sk_u"), col("sk_a")), col("sk_b"))).cast("long"))
      .select(col("day_a"), col("day_b"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(lit(0L),
          col("est_a") + col("est_b") - col("est_union")).as("est_inter"),
        expr(s"(matches * 1000000) div size(sk_u)").as("jacc_ppm"))
      .orderBy("day_a")
  }

  val kmvAudienceOverlapSql: String =
    s"""WITH h AS (SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM events),
      |rk AS (SELECT day, hv, row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM h),
      |sk AS (SELECT day, hv, rn FROM rk WHERE rn <= $KMV_K),
      |st AS (SELECT day, count(*) AS sz, max(CASE WHEN rn = $KMV_K THEN hv END) AS hk
      |       FROM sk GROUP BY day),
      |pairs AS (SELECT a.day AS day_a, b.day AS day_b FROM st a JOIN st b
      |          ON CAST(a.day AS DATE) + 1 = CAST(b.day AS DATE)),
      |uh AS (SELECT day_a, day_b, hv FROM pairs JOIN sk s ON s.day = day_a
      |       UNION
      |       SELECT day_a, day_b, hv FROM pairs JOIN sk s ON s.day = day_b),
      |ur AS (SELECT day_a, day_b, hv,
      |         row_number() OVER (PARTITION BY day_a, day_b ORDER BY hv) AS rn FROM uh),
      |uk AS (SELECT day_a, day_b, hv, rn FROM ur WHERE rn <= $KMV_K),
      |mt AS (SELECT uk.day_a, uk.day_b, count(*) AS matches FROM uk
      |       JOIN sk x ON x.day = uk.day_a AND x.hv = uk.hv
      |       JOIN sk y ON y.day = uk.day_b AND y.hv = uk.hv
      |       GROUP BY uk.day_a, uk.day_b),
      |ust AS (SELECT day_a, day_b, count(*) AS usz,
      |          max(CASE WHEN rn = $KMV_K THEN hv END) AS uhk
      |        FROM uk GROUP BY day_a, day_b),
      |est AS (SELECT u.day_a, u.day_b,
      |    CASE WHEN sa.sz < $KMV_K THEN sa.sz
      |         ELSE CAST(floor(63.0 * 1152921504606846976.0 / CAST(sa.hk AS DOUBLE)) AS BIGINT) END AS est_a,
      |    CASE WHEN sb.sz < $KMV_K THEN sb.sz
      |         ELSE CAST(floor(63.0 * 1152921504606846976.0 / CAST(sb.hk AS DOUBLE)) AS BIGINT) END AS est_b,
      |    CASE WHEN u.usz < $KMV_K THEN u.usz
      |         ELSE CAST(floor(63.0 * 1152921504606846976.0 / CAST(u.uhk AS DOUBLE)) AS BIGINT) END AS est_union,
      |    (coalesce(mt.matches, 0) * 1000000) // u.usz AS jacc_ppm
      |  FROM ust u
      |  JOIN st sa ON sa.day = u.day_a
      |  JOIN st sb ON sb.day = u.day_b
      |  LEFT JOIN mt ON mt.day_a = u.day_a AND mt.day_b = u.day_b)
      |SELECT day_a, day_b, est_a, est_b, est_union,
      |  greatest(0, est_a + est_b - est_union) AS est_inter, jacc_ppm
      |FROM est ORDER BY day_a""".stripMargin

  // ------------------------------------------------- q70 time-decay score
  /** q70: recency-weighted (exponential time-decay) revenue scoring per
    * market segment — the weighting a freshness-aware source mixture or a
    * "recent activity" feature store column actually uses. Every order
    * contributes its exact integer cents halved once per 90 elapsed days
    * before the corpus's latest order date: weight 2^-(age div 90), i.e. a
    * right-shift — NO libm exp, so the decayed mass is exact integer
    * arithmetic, shuffle-order independent, and hash-matches the oracle.
    * Emitted per segment: order count, raw vs decayed cents, and the
    * still-undecayed (age < 90 d) "fresh" share of the raw mass.
    *
    * Scale shape: the latest date is a 1-row aggregate broadcast back
    * over the scan (no window over the whole table, no second pass);
    * decay is a per-row shift inside the same projection; customer is the
    * broadcast dim side; the only shuffle is the |segments|-row hash
    * aggregate with map-side partials. The shift exponent is clamped at
    * 62 so the divisor can never overflow a long at any date range.
    */
  def decayScore(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
    o.crossJoin(broadcast(maxd))
      .select(col("o_custkey"), centsOf(col("o_totalprice")).as("cents"),
        expr("cast(least(datediff(maxd, o_orderdate) div 90, 62) as int)")
          .as("hl"))
      .withColumn("decayed", expr("cents div shiftleft(cast(1 as bigint), hl)"))
      .join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("raw_cents"),
        sum(col("decayed")).as("decayed_cents"),
        sum(when(col("hl") === 0, col("cents")).otherwise(lit(0L)))
          .as("fresh_cents"))
      .orderBy("segment")
  }

  /** DuckDB oracle: identical cents/shift geometry (`//` ≡ `div` on the
    * non-negative operands; `<<` on BIGINT both engines).
    */
  val decayScoreSql: String =
    """WITH m AS (SELECT max(o_orderdate) AS maxd FROM orders),
      |s AS (SELECT o_custkey,
      |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents,
      |    least(date_diff('day', o_orderdate, maxd) // 90, 62) AS hl
      |  FROM orders CROSS JOIN m)
      |SELECT c_mktsegment AS segment,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS raw_cents,
      |  CAST(sum(cents // (CAST(1 AS BIGINT) << hl)) AS BIGINT) AS decayed_cents,
      |  CAST(sum(CASE WHEN hl = 0 THEN cents ELSE 0 END) AS BIGINT) AS fresh_cents
      |FROM s JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------- q73 event-transition matrix
  /** q73: first-order Markov transition matrix over per-user event
    * sequences — the user-journey summary a growth/abuse team reads before
    * funnel design (q61 asks "did the fixed path happen"; q73 asks "what
    * paths exist and how fast"). Per ordered pair (prev_type, next_type):
    * transition count, conditional probability of the NEXT type given the
    * previous one in exact ppm, and the mean dwell gap in integer
    * microseconds.
    *
    * Determinism: sequence order is (ts, event_id) — event_id is unique,
    * so lag ties cannot reorder (the c08 lesson); probabilities are
    * integer-division ppm of exact longs and the mean gap is `sum div n`,
    * so no float accumulates across the exchange and the hash is
    * shuffle-order independent.
    *
    * Scale shape: the sequence window is partitioned by user_id — per-user
    * state, never a corpus-wide window; the transition aggregate carries
    * |types|² ≤ 25 groups with map-side partials; the row-total frame is
    * ≤ |types| rows and joins back broadcast. 100 TB of events reduce to
    * 25 longs after one user-partitioned pass.
    */
  def markovTransitions(s: SparkSession, d: String): DataFrame =
    markovTransitionsOf(Tables.events(s, d))

  /** q73 over any (user_id, event_type, ts, event_id) frame (the
    * spec-injectable face).
    */
  def markovTransitionsOf(events: DataFrame): DataFrame =
    transitionReport(transitionRollup(transitionEvents(events)))

  /** The q73 event projection (q75 reads it too). */
  private[graft] def transitionEvents(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"))

  /** Per-(prev, next) transition count + exact gap mass over a projected
    * event frame (one user-partitioned sequence window).
    */
  /** `maxGapUs`: when set, keep only consecutive pairs with gap STRICTLY
    * under it — the q75 within-session predicate (a session breaks at
    * gap ≥ the threshold, so a consecutive pair is same-session iff its
    * own gap is under it; see [[sessionTransitionsOf]]).
    */
  private[graft] def transitionRollup(ev: DataFrame,
      maxGapUs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pairs = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("next_type").isNotNull)
    val kept = maxGapUs.map(g => pairs.filter(col("gap_us") < g))
      .getOrElse(pairs)
    kept
      .select(col("event_type").as("prev_type"), col("next_type"), col("gap_us"))
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"), sum(col("gap_us")).as("gap_sum"))
  }

  /** Final q73 projection from a (prev_type, next_type, n, gap_sum)
    * counts frame.
    */
  private[graft] def transitionReport(counts: DataFrame): DataFrame = {
    val fromTot = counts.groupBy(col("prev_type")).agg(sum(col("n")).as("from_n"))
    counts.join(broadcast(fromTot), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("1000000 * n div from_n").as("prob_ppm"),
        expr("gap_sum div n").as("mean_gap_us"))
      .orderBy("prev_type", "next_type")
  }

  /** q73 oracle: identical window order keys and integer divisions
    * (`//` ≡ `div` on the non-negative operands; epoch_us ≡ unix_micros).
    */
  val markovTransitionsSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |            FROM events),
      |t AS (SELECT event_type AS prev_type,
      |        lead(event_type) OVER w AS next_type,
      |        lead(us) OVER w - us AS gap_us
      |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |c AS (SELECT prev_type, next_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(gap_us) AS BIGINT) AS gap_sum
      |      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS from_n FROM c GROUP BY 1)
      |SELECT c.prev_type, c.next_type, c.n,
      |  CAST((1000000 * c.n) // f.from_n AS BIGINT) AS prob_ppm,
      |  CAST(c.gap_sum // c.n AS BIGINT) AS mean_gap_us
      |FROM c JOIN f USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin

  // ------------------------------- q75 within-session transitions
  /** q75's session gap — q29's 12-hour session_window gap in µs, so the
    * two session definitions can never drift apart.
    */
  private[graft] val SESSION_GAP_US = 12L * 3600L * 1000000L

  /** q75: the within-SESSION face of q73 — transitions only between
    * events of the same user session (inactivity gap ≥ 12 h breaks the
    * chain — `≥`, not `>`, because q29's session_window is half-open
    * [start, last+gap): an event at exactly last+gap falls OUTSIDE the
    * window and opens a new session). Cross-session pairs are journey
    * noise ("logged out Tuesday, came back Friday" is not a funnel
    * step); dropping them is what makes the dwell-gap column a real
    * dwell time. Session ids come from the gaps-and-islands running
    * sum (the q56 trick): new_session = gap > threshold, session =
    * running count — both windows partition by user, never the corpus.
    *
    * Output schema ≡ q73 (prev/next, n, conditional ppm, mean gap), so
    * the two matrices diff directly: q73 minus q75 IS the cross-session
    * transition mass.
    */
  def sessionTransitions(s: SparkSession, d: String): DataFrame =
    sessionTransitionsOf(Tables.events(s, d))

  /** q75 over any (user_id, event_type, ts, event_id) frame. */
  def sessionTransitionsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = transitionEvents(events)
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = ev
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) >= SESSION_GAP_US, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(w))
    val w2 = Window.partitionBy(col("user_id"), col("sess"))
      .orderBy(col("us"), col("event_id"))
    val counts = sess
      .withColumn("next_type", lead(col("event_type"), 1).over(w2))
      .withColumn("gap_us", lead(col("us"), 1).over(w2) - col("us"))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("prev_type"), col("next_type"), col("gap_us"))
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"), sum(col("gap_us")).as("gap_sum"))
    transitionReport(counts)
  }

  /** q75 oracle: identical two-window chain (gaps-and-islands session
    * ids, then the q73 report projection).
    */
  val sessionTransitionsSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |            FROM events),
      |se AS (SELECT *, sum(new_sess) OVER w2 AS sess FROM (
      |    SELECT *, CASE WHEN us - lag(us) OVER w >= $SESSION_GAP_US
      |                   THEN 1 ELSE 0 END AS new_sess
      |    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id
      |                ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT event_type AS prev_type,
      |        lead(event_type) OVER w3 AS next_type,
      |        lead(us) OVER w3 - us AS gap_us
      |      FROM se WINDOW w3 AS (PARTITION BY user_id, sess
      |                            ORDER BY us, event_id)),
      |c AS (SELECT prev_type, next_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(gap_us) AS BIGINT) AS gap_sum
      |      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS from_n FROM c GROUP BY 1)
      |SELECT c.prev_type, c.next_type, c.n,
      |  CAST((1000000 * c.n) // f.from_n AS BIGINT) AS prob_ppm,
      |  CAST(c.gap_sum // c.n AS BIGINT) AS mean_gap_us
      |FROM c JOIN f USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin

  // --------------------------------------- q74 trend regression (OLS)
  /** q74: per-event-type revenue TREND — the regression-aggregate slot of
    * §2.6's statistics family (q55 gives moments; this gives regr_slope/
    * regr_intercept semantics): ordinary least squares of daily revenue
    * against the day index. Floating regr_* aggregates are
    * summation-order dependent and can't hash across engines, so the
    * slope is emitted as an EXACT RATIONAL from integer sufficient
    * statistics — num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)² over
    * (x = day − min_day, y = exact day cents) — plus the one-IEEE-division
    * `slope_milli_cpd` (milli-cents/day, floored) both engines compute
    * identically. Magnitudes: x ≤ 366, y ≤ corpus cents/day; at 10⁶× this
    * corpus the products sit near 10^17, still inside int64.
    *
    * Scale shape: one partial-aggregated (type, day) rollup (events
    * reduce to ≤ |types|·365 rows before any window); min_day is a 1-row
    * broadcast (the q70 maxd pattern); the sufficient statistics are one
    * ≤365-row aggregate per type.
    */
  def trendRegression(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        datediff(to_date(TimeWindows.eventTime),
          lit("1992-01-01").cast("date")).cast("long").as("day"),
        centsOf(col("value")).as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("y"))
    val mind = daily.agg(min(col("day")).as("min_day"))
    daily.crossJoin(broadcast(mind))
      .withColumn("x", col("day") - col("min_day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        // sign-explicit milli slope: `div` vs `//` agree only on
        // non-negative operands, and a downward trend makes num negative —
        // so divide magnitudes and re-apply the sign on both engines
        expr("""case when n_days * sxy - sx * sy >= 0
                then (1000 * (n_days * sxy - sx * sy)) div (n_days * sxx - sx * sx)
                else -((1000 * (sx * sy - n_days * sxy)) div (n_days * sxx - sx * sx))
                end""").as("slope_milli_cpd"),
        // same sign-explicit discipline as the slope: `div` truncates
        // toward zero, `//` floors, so a negative Σcents (refund-heavy
        // corpus) would diverge by one — divide magnitudes, re-sign
        expr("""case when sy >= 0 then sy div n_days
                else -((-sy) div n_days) end""").as("mean_day_cents"))
      .orderBy("event_type")
  }

  /** q74 oracle: identical integer sufficient statistics; HUGEINT sums
    * cast back so the comparator sees BIGINT.
    */
  val trendRegressionSql: String =
    """WITH daily AS (SELECT event_type,
      |    date_diff('day', DATE '1992-01-01', CAST(ts AS DATE)) AS day,
      |    CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT min(day) AS min_day FROM daily),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(day - min_day) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum((day - min_day) * (day - min_day)) AS BIGINT) AS sxx,
      |    CAST(sum((day - min_day) * y) AS BIGINT) AS sxy
      |  FROM daily CROSS JOIN m GROUP BY 1)
      |SELECT event_type, n_days,
      |  n_days * sxy - sx * sy AS slope_num,
      |  n_days * sxx - sx * sx AS slope_den,
      |  CAST(CASE WHEN n_days * sxy - sx * sy >= 0
      |       THEN (1000 * (n_days * sxy - sx * sy)) // (n_days * sxx - sx * sx)
      |       ELSE -((1000 * (sx * sy - n_days * sxy)) // (n_days * sxx - sx * sx))
      |       END AS BIGINT) AS slope_milli_cpd,
      |  CASE WHEN sy >= 0 THEN sy // n_days
      |       ELSE -((-sy) // n_days) END AS mean_day_cents
      |FROM s ORDER BY event_type""".stripMargin

  // ------------------------------------- q76 revenue concentration (Gini)
  /** Lorenz-rank bin width (cents) and clamp for q76's decomposed rank —
    * the p24 `_shard_bin` value-range class: `cents div 1000` clamped to
    * 16,383 has a ≤16,384-value domain at any corpus size, and the
    * clamped integer div is monotone NONDECREASING in cents, which is
    * all the rank decomposition needs (intra-bin order finishes the
    * total order).
    */
  private val GINI_BIN_CENTS = 1000L
  private val GINI_NBINS = 16384L

  /** int64 safety bound for q76's rank-mass statistics. Every int64 the
    * kernel forms is bounded by 3·n²·max|cents| per type (R = Σ rnk·cents
    * ≤ n²·maxc; n·S ≤ n²·maxc; |2R − (n+1)S| ≤ 3·n²·maxc), so the arm is
    * safe iff that bound clears Long.MaxValue ≈ 9.22e18 — compared with
    * margin at 8e18 to absorb the double-arithmetic slack of the bound
    * itself. Above it, the kernel lifts to DECIMAL(38,0): exact to 1e38,
    * i.e. ~3·10^16 users/type at $100 mean spend — 10 decades past the
    * int64 cliff. Specs force the arms via the parameter.
    */
  private[graft] val GINI_INT64_SAFE: Double = 8.0e18

  /** Bin population above which q76's (type, bin) rank window abandons
    * the single per-bin row_number for the decomposed hot path — sized
    * like [[graft.operators.TextOps.HOT_BIN_THRESHOLD]] (a task sorting
    * this many thin rows is fine; a corpus-proportional partition is
    * not). No registered corpus comes near it; the threshold exists for
    * the low-ARPU shape where nearly every user of a type lands in one
    * GINI_BIN_CENTS-wide bin. Specs force the path via the parameter.
    */
  private[graft] val GINI_HOT_BIN_USERS = 2000000L

  /** q76: revenue CONCENTRATION per event type — the Gini coefficient of
    * per-user spend, the inequality/concentration slot in the statistics
    * family (q55 moments, q74 trend, this distribution shape): "do 1% of
    * users carry 90% of purchase mass?" is a question every usage
    * dashboard answers. Gini needs the full Lorenz order (each user's
    * rank by spend), which is exactly the quantity naive SQL computes
    * with ONE UNPARTITIONED window over all users of a type — the
    * scale-killer shape this repo's census bans. Here the rank is the
    * [[SlicedPrefix.byScore]] rank under (cents, user_id) per type: the
    * bins are cents div GINI_BIN_CENTS clamped to [0, NBINS−1], so the
    * per-type bin frame has ≤16,384 rows whatever the corpus. A (type,
    * bin) partition holds EVERY user whose spend falls in that
    * GINI_BIN_CENTS-wide bin, so a low-ARPU corpus where most users
    * spend under $10 concentrates nearly the whole type into bin 0:
    * bins past [[GINI_HOT_BIN_USERS]] take the kernel's hot-bin split
    * (a bin is ≤ GINI_BIN_CENTS scores wide, so it has no fine level).
    * The residual is a CLAMP bin (0 with unbounded negatives, NBINS−1
    * with unbounded spend) whose per-cents level is itself wide — but
    * it reads aggregated rows (one per distinct cents, not per user),
    * already ≥tie-size-fold below the raw partition the naive window
    * would funnel.
    *
    * The sufficient statistics are exact int64: cents = floor(100·value),
    * rank mass R = Σ rank·cents, and the population Gini
    * `G = (2R − (n+1)S) / (nS)`. The ppm projection goes through ONE
    * fixed IEEE chain `floor(1e6 · num / den)` (the g05 assortativity
    * precedent) because `1e6·num` is the term that overflows first —
    * the first 100×-corpus run proved it, loudly, in BOTH engines
    * (Spark ANSI long-overflow, DuckDB Out of Range) — while num and
    * den themselves convert to double losslessly far past that point.
    * Raw statistics ride along so partitions merge downstream without
    * re-ranking. The int64 envelope for R ~ n²·c̄/2 (~10^7 users per
    * type at ~$100 mean spend) is EXECUTABLE, not prose: the kernel
    * computes the per-type worst case 3·n²·max|cents| from a bounded
    * (≤|event_type|-row) aggregate over the already-checkpointed user
    * frame and dispatches past [[GINI_INT64_SAFE]] to a DECIMAL(38,0)
    * lift of the same statistics (exact). The TERMINAL schema is
    * ARM-INDEPENDENT: sum_cents/rank_mass surface as STRING on both
    * arms (a BIGINT and a scale-0 DECIMAL of the same value render the
    * same digits in Spark and DuckDB alike), so the driver-hashed
    * schema cannot flip with the data and the repo's terminal-DECIMAL
    * lint holds by construction — the round-15 latent wart, closed.
    * The numeric statistics stay on [[giniStatsOfUserCents]] (the spec
    * face that pins the arm types and exactness). Below the envelope
    * the plan is the pre-dispatch one plus one tiny scalar job, and the
    * gini_ppm doubles are bit-identical across arms because both
    * convert the EXACT num/den once. Null values are excluded (a null
    * price is an ingest defect, not zero spend).
    */
  def revenueGini(s: SparkSession, d: String): DataFrame =
    revenueGiniOf(Tables.events(s, d))

  /** q76 over any (user_id, event_type, value) frame (spec face).
    * `int64SafeMax` forces the arm in specs: Double.MaxValue pins
    * int64, a negative value pins the DECIMAL(38,0) lift.
    * `hotThreshold` forces the hot-bin decomposition the same way.
    *
    * Retention note (a repeatable-dashboard cost, not a leak): the user
    * frame is localCheckpointed and the kernel runs an eager envelope
    * scalar at construction time; the checkpoint's RDD blocks stay in
    * executor storage until the driver-side reference is GC'd
    * (ContextCleaner then drops them). A long-lived session issuing
    * many reads carries a few recently-read rollups' worth of thin
    * (type, user, cents) blocks between GCs — bounded, but not zero.
    */
  private[graft] def revenueGiniOf(events: DataFrame,
      int64SafeMax: Double = GINI_INT64_SAFE,
      hotThreshold: Long = GINI_HOT_BIN_USERS): DataFrame =
    giniOfUserCents(userCentsOf(events), int64SafeMax, hotThreshold)

  /** Numeric-statistics face over raw events (spec convenience — the
    * arm pins live on the stats schema, which the registered face
    * stringifies away).
    */
  private[graft] def revenueGiniStatsOf(events: DataFrame,
      int64SafeMax: Double = GINI_INT64_SAFE,
      hotThreshold: Long = GINI_HOT_BIN_USERS): DataFrame =
    giniStatsOfUserCents(userCentsOf(events), int64SafeMax, hotThreshold)

  /** The thin (type, user, cents) frame, checkpointed ONCE: serves the
    * envelope scalar plus the kernel's two reads (bin census + rank).
    */
  private def userCentsOf(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(centsOf(col("value"))).as("cents"))
      .localCheckpoint(true)

  /** The Lorenz kernel over a folded (event_type, user_id, cents) frame:
    * the bin decomposition, the hot-bin dispatch, the envelope dispatch
    * and the ppm chain. Terminal (arm-independent) schema: see
    * [[revenueGini]]'s Scaladoc; numeric statistics live on
    * [[giniStatsOfUserCents]].
    */
  private[graft] def giniOfUserCents(users: DataFrame,
      int64SafeMax: Double = GINI_INT64_SAFE,
      hotThreshold: Long = GINI_HOT_BIN_USERS): DataFrame =
    giniStatsOfUserCents(users, int64SafeMax, hotThreshold)
      .select(col("event_type"), col("n_users"),
        col("sum_cents").cast("string").as("sum_cents"),
        col("rank_mass").cast("string").as("rank_mass"),
        col("gini_ppm"))
      .orderBy("event_type")

  /** Numeric-statistics face of the Lorenz kernel: sum_cents/rank_mass
    * keep their arm type here (BIGINT below the envelope, DECIMAL(38,0)
    * above) so specs can pin the dispatch and downstream mergers can
    * combine partitions without re-ranking; the REGISTERED face
    * ([[giniOfUserCents]]) stringifies them so the driver-hashed schema
    * is stable whatever the data.
    */
  private[graft] def giniStatsOfUserCents(users: DataFrame,
      int64SafeMax: Double = GINI_INT64_SAFE,
      hotThreshold: Long = GINI_HOT_BIN_USERS): DataFrame = {
    // envelope scalar: the worst int64 the kernel will form, from a
    // ≤|event_type|-row aggregate (bounded domain — the q-family
    // stance) over the cached user frame. max() is null on an empty
    // frame; coalesce keeps the empty corpus on the int64 arm.
    val worst = users
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        max(abs(col("cents"))).cast("double").as("mc"))
      .agg(coalesce(max(lit(3.0) * col("n") * col("n") * col("mc")),
        lit(0.0)))
      .head().getDouble(0)
    val lift = worst > int64SafeMax
    // Lorenz rank under (cents, user_id) per type: the SlicedPrefix rank
    // over clamped cents bins (≤ NBINS per type), hot bins split
    val ranked = SlicedPrefix.byScore(
      users.withColumn("_gini_bin",
        least(greatest(expr(s"cents div $GINI_BIN_CENTS"), lit(0L)),
          lit(GINI_NBINS - 1))),
      Seq("_gini_bin"), "rnk", desc = false,
      SlicedPrefix.HotSplit("cents", "user_id", GINI_BIN_CENTS, hotThreshold),
      groups = Seq("event_type"))
    val stats =
      if (!lift) ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents")).as("sum_cents"),
          sum(col("rnk") * col("cents")).as("rank_mass"))
      else ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents").cast("decimal(38,0)")).as("sum_cents"),
          sum(col("rnk").cast("decimal(38,0)") *
            col("cents").cast("decimal(38,0)")).as("rank_mass"))
    stats
      .select(col("event_type"), col("n_users"), col("sum_cents"),
        col("rank_mass"),
        // population Gini in ppm; defined only for positive total mass.
        // ONE fixed IEEE chain — see Scaladoc for why not integer div.
        // Both arms form num and den EXACTLY (int64 below the envelope,
        // DECIMAL(38,0) above) and convert each once, so the doubles —
        // hence the ppm — are bit-identical wherever both arms are
        // defined (spec-pinned).
        expr(s"""CASE WHEN sum_cents <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(1000000.0 *
              CAST(2 * rank_mass - (n_users + 1) * sum_cents AS DOUBLE) /
              CAST(n_users * sum_cents AS DOUBLE)) AS BIGINT)
            END""").as("gini_ppm"))
      .orderBy("event_type")
  }

  /** q76 oracle: the ONE-WINDOW naive rank — the decomposed engine rank
    * equals it by construction (same total order (cents, user_id)).
    * sum_cents/rank_mass are stringified exactly as the engine's
    * terminal does (arm-independent schema — see [[revenueGini]]).
    */
  val revenueGiniSql: String =
    """WITH u AS (SELECT event_type, user_id,
      |    CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT event_type, cents,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |                            ORDER BY cents, user_id) AS BIGINT) AS rnk
      |  FROM u),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents,
      |    CAST(sum(rnk * cents) AS BIGINT) AS rank_mass
      |  FROM r GROUP BY 1)
      |SELECT event_type, n_users,
      |  CAST(sum_cents AS VARCHAR) AS sum_cents,
      |  CAST(rank_mass AS VARCHAR) AS rank_mass,
      |  CAST(CASE WHEN sum_cents <= 0 THEN 0
      |    ELSE floor(1000000.0 *
      |      CAST(2 * rank_mass - (n_users + 1) * sum_cents AS DOUBLE) /
      |      CAST(n_users * sum_cents AS DOUBLE))
      |    END AS BIGINT) AS gini_ppm
      |FROM s ORDER BY event_type""".stripMargin

  // ------------------------------------------- q72 KLL quantile rollup
  /** q72: mergeable KLL quantile sketches (Karnin–Lang–Liberty) — the
    * quantile slot in the sketch family next to q63's HLL (distinct),
    * q66's fixed-bin histogram (bounded-domain quantiles) and q68's KMV
    * (intersection): KLL needs NO domain knowledge (q66's bins must be
    * chosen; KLL adapts), persists at a few KB, and unions exactly — the
    * global p50/p90 here come from UNIONING the per-type sketches, never
    * rescanning the fact table (the materialized-view stance).
    *
    * Contract (the q63 discipline): KLL compaction is randomized by
    * design, so the oracle hash-checks the EXACT counts and asserts
    * rank-accuracy booleans — the estimated quantile's true inclusive
    * rank sits within 5% of target, ~10× the k=800 sketch's proven
    * ~0.4% @99% bound plus worst-case tie mass, so the booleans are
    * effectively deterministic. Rank checks are exact integer
    * arithmetic (|1000·r − q·1000·n| ≤ 50·n).
    *
    * Scale: the sketch aggregate is a hash aggregate with an
    * O(k·log(n/k)) buffer and map-side partials (one sketch per mapper
    * per group crosses the exchange, where exact percentiles shuffle
    * every value); the verification pass is one conditional-count scan
    * against the broadcast 5-row estimate frame.
    */
  def kllQuantileRollup(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.KllSketch
    val ev = Tables.events(s, d)
      .select(col("event_type"), centsOf(col("value")).as("cents"))
    val perType = ev.groupBy(col("event_type"))
      .agg(KllSketch.sketch(col("cents")).as("sk"),
        count(lit(1)).as("n_exact"))
    val est = perType.select(col("event_type"), col("n_exact"),
      KllSketch.quantile(col("sk"), 0.5).as("p50"),
      KllSketch.quantile(col("sk"), 0.9).as("p90"))
    def rankOk(r: Column, n: Column, qMilli: Long): Column =
      abs(lit(1000L) * r - lit(qMilli) * n) <= lit(50L) * n
    val typed = ev.join(broadcast(est), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n_exact")).as("n"),
        count(when(col("cents") <= col("p50"), 1)).as("r50"),
        count(when(col("cents") <= col("p90"), 1)).as("r90"))
      .select(lit("type").as("level"), col("event_type").as("key"),
        col("n").as("n_exact"),
        rankOk(col("r50"), col("n"), 500L).as("p50_rank_ok"),
        rankOk(col("r90"), col("n"), 900L).as("p90_rank_ok"))
    // global: the five sketches UNION (no fact rescan for the estimate;
    // the scan below is only the exactness verification)
    val gEst = perType
      .agg(KllSketch.union(col("sk")).as("sk"), sum(col("n_exact")).as("n_exact"))
      .select(col("n_exact"),
        KllSketch.quantile(col("sk"), 0.5).as("p50"),
        KllSketch.quantile(col("sk"), 0.9).as("p90"))
    val global = ev.crossJoin(broadcast(gEst))
      .groupBy()
      .agg(max(col("n_exact")).as("n"),
        count(when(col("cents") <= col("p50"), 1)).as("r50"),
        count(when(col("cents") <= col("p90"), 1)).as("r90"))
      .select(lit("total").as("level"), lit("all").as("key"),
        col("n").as("n_exact"),
        rankOk(col("r50"), col("n"), 500L).as("p50_rank_ok"),
        rankOk(col("r90"), col("n"), 900L).as("p90_rank_ok"))
    typed.unionByName(global).orderBy("level", "key")
  }

  /** q72 oracle: exact counts; the rank-accuracy booleans are the
    * CONTRACT (asserted TRUE — the q63 stance for randomized sketches).
    */
  val kllQuantileRollupSql: String =
    """SELECT level, key, n_exact, p50_rank_ok, p90_rank_ok FROM (
      |  SELECT 'type' AS level, event_type AS key,
      |    CAST(count(*) AS BIGINT) AS n_exact,
      |    TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      |  FROM events GROUP BY event_type
      |  UNION ALL
      |  SELECT 'total', 'all', CAST(count(*) AS BIGINT), TRUE, TRUE
      |  FROM events)
      |ORDER BY level, key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q76_revenue_gini" -> (revenueGini _),
    "q75_session_transitions" -> (sessionTransitions _),
    "q74_trend_regression" -> (trendRegression _),
    "q73_markov_transitions" -> (markovTransitions _),
    "q72_kll_quantiles" -> (kllQuantileRollup _),
    "q70_decay_score" -> (decayScore _),
    "q68_kmv_overlap" -> (kmvAudienceOverlap _),
    "q66_hist_quantile_rollup" -> (histQuantileRollup _),
    "q63_hll_rollup" -> (hllRollup _),
    "q25_pivot" -> (pivotEvents _),
    "q51_unpivot" -> (unpivotStats _),
    "q26_approx_distinct" -> (approxDistinct _),
    "q27_weighted_avg_udaf" -> (weightedAvgPrice _),
    "q30_array_funcs" -> (arrayFuncs _),
    "q31_math_funcs" -> (mathFuncs _),
    "q55_stats_moments" -> (statsMoments _),
    "t06_top_tokens" -> (topTokens _))

  val oracles: Map[String, String] = Map(
    "q76_revenue_gini" -> revenueGiniSql,
    "q75_session_transitions" -> sessionTransitionsSql,
    "q74_trend_regression" -> trendRegressionSql,
    "q73_markov_transitions" -> markovTransitionsSql,
    "q72_kll_quantiles" -> kllQuantileRollupSql,
    "q70_decay_score" -> decayScoreSql,
    "q68_kmv_overlap" -> kmvAudienceOverlapSql,
    "q66_hist_quantile_rollup" -> histQuantileRollupSql,
    "q63_hll_rollup" -> hllRollupSql,
    "q26_approx_distinct" -> approxDistinctSql,
    "q25_pivot" -> pivotEventsSql,
    "q51_unpivot" -> unpivotStatsSql,
    "q27_weighted_avg_udaf" -> weightedAvgPriceSql,
    "q30_array_funcs" -> arrayFuncsSql,
    "q31_math_funcs" -> mathFuncsSql,
    "q55_stats_moments" -> statsMomentsSql,
    "t06_top_tokens" -> topTokensSql)
}
