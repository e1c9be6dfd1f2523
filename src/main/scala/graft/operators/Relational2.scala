package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Second tranche of SURVEY §2.6 surface: multiset set-ops (ALL variants),
  * arg-min/max aggregates, ordered string aggregation, UDTF-style lateral
  * position explode, regex extraction, and conditional scalar expressions.
  *
  * Same determinism contract as Relational: terminal columns are
  * string/int/bigint/double only; arg aggregates key on the UNIQUE
  * event_id (a double-valued key could tie and break cross-engine
  * determinism); every query ends in a total ORDER BY.
  */
object Relational2 {

  // ---------------------------------------------------------------- q36
  /** EXCEPT ALL / INTERSECT ALL multiset semantics (Spark plans these as
    * count-propagating aggregates + joins — linear, no pairwise blowup).
    * Per-user multiset counts of view-events vs click-events.
    */
  def multisetOps(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val views = e.filter(col("event_type") === "view").select(col("user_id"))
    val clicks = e.filter(col("event_type") === "click").select(col("user_id"))
    val ex = views.exceptAll(clicks)
      .groupBy("user_id").agg(count(lit(1)).as("n_except"))
    val ix = views.intersectAll(clicks)
      .groupBy("user_id").agg(count(lit(1)).as("n_intersect"))
    ex.join(ix, Seq("user_id"), "full")
      .na.fill(0L, Seq("n_except", "n_intersect"))
      .orderBy("user_id")
  }

  val multisetOpsSql: String =
    """WITH ex AS (
      |  SELECT user_id, count(*) AS n_except FROM (
      |    SELECT user_id FROM events WHERE event_type = 'view'
      |    EXCEPT ALL
      |    SELECT user_id FROM events WHERE event_type = 'click')
      |  GROUP BY user_id),
      |ix AS (
      |  SELECT user_id, count(*) AS n_intersect FROM (
      |    SELECT user_id FROM events WHERE event_type = 'view'
      |    INTERSECT ALL
      |    SELECT user_id FROM events WHERE event_type = 'click')
      |  GROUP BY user_id)
      |SELECT coalesce(ex.user_id, ix.user_id) AS user_id,
      |       coalesce(n_except, 0) AS n_except,
      |       coalesce(n_intersect, 0) AS n_intersect
      |FROM ex FULL JOIN ix ON ex.user_id = ix.user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q37
  /** min_by/max_by arg aggregates keyed on the unique event_id: the
    * first/last event's value and user per type. Unique key ⇒ no
    * tie-breaking divergence between engines.
    */
  def argMinMax(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("first_value"),
        max_by(col("value"), col("event_id")).as("last_value"),
        max_by(col("user_id"), col("event_id")).as("last_user"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  val argMinMaxSql: String =
    """SELECT event_type,
      |  arg_min(value, event_id) AS first_value,
      |  arg_max(value, event_id) AS last_value,
      |  arg_max(user_id, event_id) AS last_user,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Ordered string aggregation (listagg): sorted doc_id list per source.
    * collect_list order is nondeterministic under parallelism — array_sort
    * before the join makes the result engine- and partitioning-independent.
    */
  def stringAgg(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        array_join(array_sort(collect_list(col("doc_id").cast("string"))), ",").as("doc_ids"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  val stringAggSql: String =
    """SELECT source,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids,
      |  count(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q39
  /** UDTF-style lateral explode with position (posexplode / Generator):
    * tokens with their 0-based position for a slice of documents.
    */
  def posExplodeTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .orderBy("doc_id", "pos")

  val posExplodeTokensSql: String =
    """SELECT doc_id, CAST(u.pos AS INT) AS pos, u.tok FROM (
      |  SELECT doc_id,
      |    unnest([{'pos': i-1, 'tok': toks[i]} FOR i IN range(1, len(toks)+1)]) AS u
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents WHERE doc_id < 20))
      |ORDER BY doc_id, pos""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Regex extraction groups (regexp_extract is identical syntax in both
    * engines): leading word and trailing uppercase word of part fields.
    */
  def regexExtract(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("type_tail"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"))
      .orderBy("p_partkey")

  val regexExtractSql: String =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  regexp_extract(p_type, '([A-Z]+)$', 1) AS type_tail,
      |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Conditional scalar surface: nullif/coalesce/greatest/least/CASE. */
  def conditionalScalars(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
        least(col("c_acctbal"), lit(5000.0)).as("bal_cap"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("band"))
      .orderBy("c_custkey")

  val conditionalScalarsSql: String =
    """SELECT c_custkey,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
      |  greatest(c_acctbal, 0.0) AS bal_floor,
      |  least(c_acctbal, 5000.0) AS bal_cap,
      |  CASE WHEN c_acctbal < 0 THEN 'neg'
      |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q42
  /** MapType surface: construct a map per row, then keys/values/access.
    * Outputs are scalars (maps themselves are not hash-stable across the
    * driver's readers).
    */
  def mapFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 200)
      .withColumn("m", map(
        lit("qty"), col("l_quantity"),
        lit("price"), col("l_extendedprice")))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        array_join(map_keys(col("m")), ",").as("keys"),
        element_at(col("m"), "qty").as("qty"),
        element_at(col("m"), "price").as("price"),
        size(col("m")).as("n_entries"))
      .orderBy("l_orderkey", "l_linenumber")

  val mapFuncsSql: String =
    """SELECT l_orderkey, l_linenumber, 'qty,price' AS keys,
      |  l_quantity AS qty, l_extendedprice AS price, 2 AS n_entries
      |FROM lineitem WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q43
  /** SQL-form IN subquery (Catalyst rewrites to a left-semi join; the DSL
    * semi-join form is q06 — this exercises the SQL surface).
    */
  def inSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
        |  AND o_totalprice > 300000
        |ORDER BY o_orderkey""".stripMargin)
  }

  val inSubquerySql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
      |  AND o_totalprice > 300000
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Window VALUE functions: first/last/nth over the default running frame
    * (both engines: RANGE UNBOUNDED PRECEDING..CURRENT ROW) and the full
    * frame for last_value. Raw doubles pass through — no accumulation.
    */
  def valueWindows(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(wFull).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy("user_id", "event_id")
  }

  val valueWindowsSql: String =
    """SELECT user_id, event_id,
      |  first_value(value) OVER w AS first_v,
      |  last_value(value) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
      |  nth_value(value, 2) OVER w AS second_v
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Date-part scalar surface (only parts whose semantics match across
    * engines; dayofweek/weekofyear number differently). DATE outputs are
    * rendered as strings per the terminal-type contract.
    */
  def dateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("q"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp").cast("date")).as("days_since_95"),
        date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus30"))
      .orderBy("o_orderkey")

  val dateFuncsSql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS y,
      |  CAST(month(o_orderdate) AS INT) AS m,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  CAST(quarter(o_orderdate) AS INT) AS q,
      |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30
      |FROM orders WHERE o_orderkey < 2000
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Higher-order array functions (aggregate / filter / array_max /
    * reverse) over QUANTIZED vectors — integer-exact so both engines
    * agree; the HOF surface itself is the point (hot paths use the codegen
    * expressions instead, see PLANS.md).
    */
  def arrayHof(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .select(
        col("vec_id"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("comp_sum"),
        array_max(col("qv")).as("comp_max"),
        size(filter(col("qv"), x => x > 0)).as("n_positive"),
        element_at(reverse(col("qv")), 1).as("last_comp"))
      .orderBy("vec_id")

  val arrayHofSql: String =
    """WITH v AS (SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |  FROM embeddings)
      |SELECT vec_id,
      |  CAST(list_sum(qv) AS BIGINT) AS comp_sum,
      |  list_max(qv) AS comp_max,
      |  CAST(len(list_filter(qv, x -> x > 0)) AS INT) AS n_positive,
      |  qv[len(qv)] AS last_comp
      |FROM v ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Distributed two-direction global rank over a nullable numeric sort
    * column: adds `rn_desc` (sortCol DESC NULLS LAST, tieCol) and
    * `rn_asc` (sortCol ASC NULLS FIRST, tieCol) without ever planning an
    * unpartitioned corpus window. `tieCol` must be unique (it makes the
    * total order strict, so the distributed rank is bit-identical to the
    * single-window statement). NaN gets its own slice flag: Spark orders
    * NaN above every double, but `floor(NaN·100)` casts to null → bin 0,
    * so without the flag NaN rows would sort with bin 0 instead of at
    * the top of the DESC order. [[SlicedPrefix]] holds the derivation.
    *
    * Boundedness is by CONSTRUCTION, not assumption: the sort column is
    * cast to double up front (a decimal/long whose `*100` overflows
    * would otherwise null out and silently land in bin 0, corrupting
    * the global order) and the cent quantization SATURATES at
    * ±[[SGR_BIN_RANGE]], so the bin/base frames can never exceed
    * 2·[[SGR_BIN_RANGE]]·100+1 rows no matter how wide or fine-grained
    * the value domain is — broadcast and prefix-sum stay small for ANY
    * input. Saturation cannot change results: the bin is still monotone
    * in the sort order and the within-bin window orders by the REAL
    * column value, so rows piling into an edge bin only shift work, not
    * ranks (the q47 trade-off: extreme-range data degrades to fewer,
    * bigger bins, never to wrong answers).
    */
  val SGR_BIN_RANGE = 1000.0

  def slicedGlobalRanks(df: DataFrame, sortCol: String, tieCol: String): DataFrame = {
    val vd = col(sortCol).cast("double")
    // least/greatest skip nulls and order NaN above all doubles, so null
    // and NaN rows clamp to the top bin — harmless: their slice FLAGS
    // (_sgr_nn/_sgr_nan), not the bin, decide where they rank. NaN sorts
    // above all numbers, so with the non-null flag the slice order is
    // (nn, nan, bin) descending under DESC NULLS LAST and ascending
    // under ASC NULLS FIRST: one bin count serves both directions
    val clamped = greatest(lit(-SGR_BIN_RANGE), least(lit(SGR_BIN_RANGE), vd))
    val p = df
      .withColumn("_sgr_nn", col(sortCol).isNotNull.cast("int"))
      .withColumn("_sgr_nan", coalesce(isnan(vd).cast("int"), lit(0)))
      .withColumn("_sgr_bin", coalesce(floor(clamped * 100), lit(0L)))
    val bins = Seq("_sgr_nn", "_sgr_nan", "_sgr_bin")
    SlicedPrefix(p, bins, Seq(
        SlicedPrefix.Run("rn_desc", desc = true,
          col(sortCol).desc_nulls_last, col(tieCol)),
        SlicedPrefix.Run("rn_asc", desc = false,
          col(sortCol).asc_nulls_first, col(tieCol))))
      .withColumn("rn_desc", col("rn_desc").cast("int"))
      .withColumn("rn_asc", col("rn_asc").cast("int"))
      .drop(bins: _*)
  }

  /** Explicit null-ordering semantics: ranks under DESC NULLS LAST and
    * ASC NULLS FIRST over a lag-produced nullable column (explicit on both
    * engines — defaults differ across SQL dialects).
    *
    * Scale shape — the input slice (`user_id < 20`) grows linearly with
    * the corpus, so a bare `row_number() OVER (ORDER BY …)` would funnel
    * every row through ONE task. Both ranks are [[SlicedPrefix]] ranks
    * off one bin count ([[slicedGlobalRanks]]); ties in `prev` break on
    * unique event_id, so the distributed rank is bit-identical to the
    * single-window statement the oracle keeps.
    */
  def nullOrdering(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val p = Tables.events(s, d)
      .filter(col("user_id") < 20)
      .withColumn("prev", lag(col("value"), 1).over(w))
    slicedGlobalRanks(p, "prev", "event_id")
      .select("event_id", "prev", "rn_desc", "rn_asc")
      .orderBy("event_id")
  }

  val nullOrderingSql: String =
    """WITH p AS (SELECT event_id,
      |    lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      |  FROM events WHERE user_id < 20)
      |SELECT event_id, prev,
      |  CAST(row_number() OVER (ORDER BY prev DESC NULLS LAST, event_id) AS INT) AS rn_desc,
      |  CAST(row_number() OVER (ORDER BY prev ASC NULLS FIRST, event_id) AS INT) AS rn_asc
      |FROM p ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q48
  /** unionByName: position-independent union resolution. */
  def unionByName(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
    val b = o.filter(col("o_totalprice") > 400000)
      .select(col("o_totalprice"), col("o_orderkey")) // reversed order
    a.unionByName(b)
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("price"))
      .orderBy("o_orderkey")
  }

  val unionByNameSql: String =
    """SELECT o_orderkey, count(*) AS n, max(o_totalprice) AS price FROM (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL BY NAME
      |  SELECT o_totalprice, o_orderkey FROM orders WHERE o_totalprice > 400000)
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q49
  /** grouping()/grouping_id() markers on ROLLUP — the proper subtotal
    * discriminators (q11 uses the coalesce idiom; this is the functional
    * surface).
    */
  def groupingMarkers(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"))
      .select(
        coalesce(col("o_orderstatus"), lit("-")).as("status"),
        coalesce(col("o_orderpriority"), lit("-")).as("prio"),
        col("g_status"), col("g_prio"), col("n"))
      .orderBy("g_status", "g_prio", "status", "prio")

  val groupingMarkersSql: String =
    """SELECT coalesce(o_orderstatus, '-') AS status,
      |       coalesce(o_orderpriority, '-') AS prio,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |       count(*) AS n
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_prio, status, prio""".stripMargin

  // ---------------------------------------------------------------- q57
  /** q57: TPC-H Q8-analog national market share — the deepest join in the
    * suite (lineitem → part → orders → customer → nation → region →
    * supplier → nation, 8 relations): per order-year, the share of
    * PROMO-part revenue into ASIA that NATION_7's suppliers captured.
    *
    * Money is cent-quantized BEFORE aggregation —
    * floor(price·(1−disc)·100) as int64 — so the sums are exact and
    * order-independent (a double `sum(volume)` differs between engines
    * and partition orders); the share is one identical IEEE division of
    * the two exact sums. Plan shape: every dimension (part, customer,
    * nation, region, supplier) broadcasts; the fact table never shuffles
    * until the final 7-row year rollup — the q04/q05 star shape at depth.
    * AQE flips any dimension that outgrows the broadcast threshold to a
    * shuffle join without a code change.
    */
  def marketShare(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
    val volCents =
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0)
        .cast("long")
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_type") === "PROMO")
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(nat.select(col("n_nationkey").as("c_nk"), col("n_regionkey")),
        col("c_nationkey") === col("c_nk"))
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA")
        .select("r_regionkey"), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(nat.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation")), col("s_nationkey") === col("s_nk"))
      .withColumn("vol_cents", volCents)
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === "NATION_7", col("vol_cents"))
          .otherwise(0L)).as("nation_cents"),
        sum(col("vol_cents")).as("total_cents"))
      .withColumn("mkt_share",
        col("nation_cents").cast("double") / col("total_cents").cast("double"))
      .orderBy("o_year")
  }

  val marketShareSql: String =
    """SELECT o_year,
      |  CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol ELSE 0 END) AS BIGINT) AS nation_cents,
      |  CAST(sum(vol) AS BIGINT) AS total_cents,
      |  CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol ELSE 0 END) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(sum(vol) AS BIGINT) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, ns.n_name AS supp_nation,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS vol
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation nc ON nc.n_nationkey = c_nationkey
      |  JOIN region ON r_regionkey = nc.n_regionkey AND r_name = 'ASIA'
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ns ON ns.n_nationkey = s_nationkey)
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------- q59
  /** q59: relational DIVISION — "customers whose orders span EVERY order
    * priority", the universal-quantifier query (∀ priorities ∃ an order).
    * The textbook double-NOT-EXISTS formulation decorrelates poorly; the
    * scale form is division-by-counting: per-customer distinct-priority
    * count equals the global distinct count (a 1-row broadcast). One
    * fact-table aggregate + one broadcast comparison — no correlated
    * re-execution, no pairwise anything. The divisor is data-derived (not
    * a hardcoded 5), so the query adapts if a priority vanishes upstream.
    */
  def divisionAllPriorities(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val total = o.agg(countDistinct(col("o_orderpriority")).as("n_all"))
    o.groupBy("o_custkey")
      .agg(countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_orders"))
      .join(broadcast(total), col("n_prio") === col("n_all"))
      .select("o_custkey", "n_prio", "n_orders")
      .orderBy("o_custkey")
  }

  val divisionAllPrioritiesSql: String =
    """WITH t AS (SELECT count(DISTINCT o_orderpriority) AS n_all FROM orders)
      |SELECT o_custkey,
      |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |HAVING count(DISTINCT o_orderpriority) = (SELECT n_all FROM t)
      |ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------- SQL pipe syntax
  /** q60: Spark 4's SQL pipe syntax (`|>`) — the FROM-first linear query
    * dialect (the ZetaSQL/BigQuery pipe form Spark 4.0 adopted): each
    * `|>` stage applies one operator to the running table, so the text
    * reads top-to-bottom like the DataFrame API, including a
    * post-aggregation WHERE on an aggregate alias with no HAVING
    * keyword. Same Catalyst plan as the nested form — this registers the
    * dialect surface a migrating SQL user will reach for; the oracle is
    * the standard nested-SQL equivalent (DuckDB has no pipe syntax).
    * l_quantity values are integer-valued doubles, so the sum is exact
    * and the BIGINT cast is deterministic.
    */
  def pipeSyntax(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """FROM lineitem
        ||> WHERE l_quantity > 10
        ||> AGGREGATE CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |            count(*) AS n_items
        |   GROUP BY l_returnflag, l_linestatus
        ||> WHERE n_items > 100
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val pipeSyntaxSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty, count(*) AS n_items
      |FROM lineitem
      |WHERE l_quantity > 10
      |GROUP BY l_returnflag, l_linestatus
      |HAVING count(*) > 100
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q64: referential-integrity audit — the dbt-test / data-contract sweep
    * every warehouse runs on landing: for each declared foreign key, the
    * child row count and the count of orphans (child keys with no parent).
    * One row per relationship, so the report is constant-width regardless
    * of corpus size.
    *
    * Scale shape: each check is a LEFT ANTI join aggregated to one long —
    * dimension parents (customer/part/supplier/nation/region) broadcast;
    * the one fact-fact check (lineitem→orders) is a shuffled anti join on
    * the order key whose output is counted map-side. Null FKs count as
    * orphans (a null reference violates the contract too).
    */
  def fkAudit(s: SparkSession, d: String): DataFrame = {
    def check(name: String, child: DataFrame, key: String,
              parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
      val p = parent.select(col(pkey).as("__pk")).distinct()
      val orphans = child
        .join(if (bcast) broadcast(p) else p, col(key) === col("__pk"), "left_anti")
      child.agg(count(lit(1)).as("n_rows")).crossJoin(
          orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"))
    }
    val li = Tables.lineitem(s, d)
    Seq(
      check("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey", bcast = true),
      check("lineitem.l_orderkey->orders", li, "l_orderkey",
        Tables.orders(s, d), "o_orderkey", bcast = false),
      check("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, d), "p_partkey", bcast = true),
      check("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, d), "s_suppkey", bcast = true),
      check("nation.n_regionkey->region", Tables.nation(s, d), "n_regionkey",
        Tables.region(s, d), "r_regionkey", bcast = true),
      check("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", bcast = true),
      check("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey",
        Tables.nation(s, d), "n_nationkey", bcast = true))
      .reduce(_ unionByName _)
      .orderBy("fk")
  }

  val fkAuditSql: String =
    """SELECT fk, n_rows, n_orphans FROM (
      |  SELECT 'customer.c_nationkey->nation' AS fk,
      |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
      |    (SELECT CAST(count(*) AS BIGINT) FROM customer
      |      WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
      |         OR c_nationkey IS NULL) AS n_orphans
      |  UNION ALL SELECT 'lineitem.l_orderkey->orders',
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
      |      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
      |         OR l_orderkey IS NULL)
      |  UNION ALL SELECT 'lineitem.l_partkey->part',
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
      |      WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
      |         OR l_partkey IS NULL)
      |  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
      |      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)
      |         OR l_suppkey IS NULL)
      |  UNION ALL SELECT 'nation.n_regionkey->region',
      |    (SELECT CAST(count(*) AS BIGINT) FROM nation),
      |    (SELECT CAST(count(*) AS BIGINT) FROM nation
      |      WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region WHERE r_regionkey IS NOT NULL)
      |         OR n_regionkey IS NULL)
      |  UNION ALL SELECT 'orders.o_custkey->customer',
      |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
      |    (SELECT CAST(count(*) AS BIGINT) FROM orders
      |      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
      |         OR o_custkey IS NULL)
      |  UNION ALL SELECT 'supplier.s_nationkey->nation',
      |    (SELECT CAST(count(*) AS BIGINT) FROM supplier),
      |    (SELECT CAST(count(*) AS BIGINT) FROM supplier
      |      WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
      |         OR s_nationkey IS NULL))
      |ORDER BY fk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_fk_audit" -> (fkAudit _),
    "q60_pipe_syntax" -> (pipeSyntax _),
    "q59_division" -> (divisionAllPriorities _),
    "q57_market_share" -> (marketShare _),
    "q47_null_ordering" -> (nullOrdering _),
    "q48_union_by_name" -> (unionByName _),
    "q49_grouping_markers" -> (groupingMarkers _),
    "q46_array_hof" -> (arrayHof _),
    "q42_map_funcs" -> (mapFuncs _),
    "q43_in_subquery" -> (inSubquery _),
    "q44_value_windows" -> (valueWindows _),
    "q45_date_funcs" -> (dateFuncs _),
    "q36_multiset_ops" -> (multisetOps _),
    "q37_arg_minmax" -> (argMinMax _),
    "q38_string_agg" -> (stringAgg _),
    "q39_posexplode" -> (posExplodeTokens _),
    "q40_regex_extract" -> (regexExtract _),
    "q41_conditional_scalars" -> (conditionalScalars _))

  val oracles: Map[String, String] = Map(
    "q64_fk_audit" -> fkAuditSql,
    "q60_pipe_syntax" -> pipeSyntaxSql,
    "q59_division" -> divisionAllPrioritiesSql,
    "q57_market_share" -> marketShareSql,
    "q47_null_ordering" -> nullOrderingSql,
    "q48_union_by_name" -> unionByNameSql,
    "q49_grouping_markers" -> groupingMarkersSql,
    "q46_array_hof" -> arrayHofSql,
    "q42_map_funcs" -> mapFuncsSql,
    "q43_in_subquery" -> inSubquerySql,
    "q44_value_windows" -> valueWindowsSql,
    "q45_date_funcs" -> dateFuncsSql,
    "q36_multiset_ops" -> multisetOpsSql,
    "q37_arg_minmax" -> argMinMaxSql,
    "q38_string_agg" -> stringAggSql,
    "q39_posexplode" -> posExplodeTokensSql,
    "q40_regex_extract" -> regexExtractSql,
    "q41_conditional_scalars" -> conditionalScalarsSql)
}
