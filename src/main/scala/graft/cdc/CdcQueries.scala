package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Decoders

/** Driver-facing CDC queries with DuckDB oracles over the same fixture
  * files (read_json on the Spark side with an explicit envelope schema;
  * read_json_auto on the oracle side).
  */
object CdcQueries {

  private val fixturesNote = CdcPipeline.eventsPath

  def latestState(s: SparkSession, d: String): DataFrame =
    CdcPipeline.latestState(s)

  val latestStateSql: String =
    s"""WITH e AS (
       |  SELECT payload.source.db AS db, payload.source."table" AS tbl,
       |         coalesce(payload.after.id, payload.before.id) AS id,
       |         CASE WHEN payload.before IS NULL AND payload.after IS NOT NULL THEN 'I'
       |              WHEN payload.before IS NOT NULL AND payload.after IS NOT NULL THEN 'U'
       |              WHEN payload.before IS NOT NULL AND payload.after IS NULL THEN 'D'
       |              ELSE 'X' END AS op,
       |         payload.after.name AS name, payload.after.amount AS amount,
       |         payload.source.file AS f, payload.source.pos AS p,
       |         payload.source."row" AS r
       |  FROM read_json_auto('${CdcPipeline.eventsPath}')),
       |ranked AS (SELECT *, row_number() OVER (
       |             PARTITION BY db, tbl, id ORDER BY f DESC, p DESC, r DESC) AS rn
       |           FROM e)
       |SELECT db, tbl, id, name, amount FROM ranked WHERE rn = 1 AND op <> 'D'
       |ORDER BY db, tbl, id""".stripMargin

  def opCounts(s: SparkSession, d: String): DataFrame =
    CdcPipeline.opCounts(s)

  val opCountsSql: String =
    s"""SELECT payload.source."table" AS tbl,
       |  CASE WHEN payload.before IS NULL AND payload.after IS NOT NULL THEN 'I'
       |       WHEN payload.before IS NOT NULL AND payload.after IS NOT NULL THEN 'U'
       |       WHEN payload.before IS NOT NULL AND payload.after IS NULL THEN 'D'
       |       ELSE 'X' END AS op,
       |  count(*) AS n
       |FROM read_json_auto('${CdcPipeline.eventsPath}')
       |GROUP BY tbl, op ORDER BY tbl, op""".stripMargin

  def ddlDecisions(s: SparkSession, d: String): DataFrame =
    CdcPipeline.ddlDecisions(s, tables = Seq("acct", "txn"),
      reclaim = false, replaceAll = false)

  val ddlDecisionsSql: String =
    s"""SELECT ddl_id, payload.databaseName AS db, payload.ddl AS ddl,
       |  CASE WHEN payload.databaseName IS NULL OR length(payload.databaseName) = 0
       |         THEN 'skip_instance'
       |       WHEN payload.source."table" NOT IN ('acct', 'txn') THEN 'skip_whitelist'
       |       WHEN payload.ddl IS NULL OR length(payload.ddl) = 0 THEN 'error_empty'
       |       WHEN payload.ddl LIKE '%CREATE DATABASE%' OR payload.ddl LIKE '%USE%'
       |            OR payload.ddl LIKE '%DROP DATABASE%' OR payload.ddl LIKE '%DROP TABLE%'
       |         THEN 'blocked'
       |       ELSE 'apply' END AS decision
       |FROM read_json_auto('${CdcPipeline.ddlPath}')
       |ORDER BY ddl_id""".stripMargin

  /** Golden decoder vectors end-to-end (C1–C6): inline rows through the
    * Decoders library; the oracle is the hand-computed expected VALUES.
    * Pins: negative two's-complement (main.go:231-240), bad base64 ⇒ 0
    * (main.go:226-228), day-0 date, micro-time floor/no-pad (main.go:285),
    * zoned +7h shift (main.go:296) and null on garbage.
    */
  def decodersGolden(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Seq(
      ("pos", "MDk=", 100, 1587202401764L, 45296000000L, "2020-04-18T08:54:10Z", true),
      ("neg", "z8c=", 0, 0L, 3661000000L, "2020-04-18T08:54:10Z", false),
      ("bad", "!!!notb64", 19000, 86399999L, 0L, "not-a-date", true),
      ("big", "CPuP2YX3", 1, 1000L, 59000000L, "1999-12-31T23:59:59Z", false))
      .toDF("label", "dec_b64", "days", "millis", "micros", "iso", "flag")
    // dec_val/dt go out as their exact string renderings: terminal DECIMAL
    // and DATE columns are not hash-stable across the driver's two readers
    // (CORRECTNESS_r02), and the string form is exact at any magnitude.
    rows.select(
      col("label"),
      Decoders.debeziumDecimal(col("dec_b64"), 2).cast("string").as("dec_val"),
      Decoders.debeziumDate(col("days")).cast("string").as("dt"),
      Decoders.debeziumTimestamp(col("millis")).as("ts"),
      Decoders.debeziumMicroTime(col("micros")).as("micro_time"),
      Decoders.debeziumZonedTimestamp(col("iso"), 7).as("zts"),
      Decoders.boolToInt(col("flag")).as("flag_int"))
      .orderBy("label")
  }

  val decodersGoldenSql: String =
    """SELECT * FROM (VALUES
      |  ('bad', '0.00', '2022-01-08',
      |   TIMESTAMP '1970-01-01 23:59:59.999', '0:0:0', CAST(NULL AS TIMESTAMP), 1),
      |  ('big', '98765432109.99', '1970-01-02',
      |   TIMESTAMP '1970-01-01 00:00:01', '0:0:59', TIMESTAMP '2000-01-01 06:59:59', 0),
      |  ('neg', '-123.45', '1970-01-01',
      |   TIMESTAMP '1970-01-01 00:00:00', '1:1:1', TIMESTAMP '2020-04-18 15:54:10', 0),
      |  ('pos', '123.45', '1970-04-11',
      |   TIMESTAMP '2020-04-18 09:33:21.764', '12:34:56', TIMESTAMP '2020-04-18 15:54:10', 1)
      |) AS t(label, dec_val, dt, ts, micro_time, zts, flag_int)
      |ORDER BY label""".stripMargin

  /** P3 end-to-end: registry built from the events' own schema trees, then
    * the typed latest state of the `pay` table (decimal/date/timestamp/bool
    * columns decoded from string row images). Oracle = hand-computed golden.
    */
  def typedLatestState(s: SparkSession, d: String): DataFrame = {
    // The operator keeps its typed schema (decimal/date/timestamp); the
    // driver-facing projection renders decimal+date as exact strings for
    // hash stability (see decodersGolden note).
    val typed = SchemaRegistry.typedLatestState(s,
      "/root/repo/fixtures/cdc_typed_events.jsonl", "shop", "pay")
    typed.select(
      col("id"),
      col("amount").cast("string").as("amount"),
      col("paid_on").cast("string").as("paid_on"),
      col("created_at"),
      col("active"))
  }

  val typedLatestStateSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), '50000.00', '2022-01-09',
      |   TIMESTAMP '2020-04-18 09:33:22', 0),
      |  (CAST(2 AS BIGINT), '-999.99', '1970-01-01',
      |   TIMESTAMP '1970-01-01 00:00:00', 0),
      |  (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS TIMESTAMP), CAST(NULL AS INT))
      |) AS t(id, amount, paid_on, created_at, active)
      |ORDER BY id""".stripMargin

  /** c06: SCD2 (type-2 slowly-changing dimension) history materialized
    * from the CDC stream — the analytical upgrade the reference's
    * latest-state-only MySQL sink cannot provide: every insert/update
    * becomes a numbered version of the entity, deletes close the entity,
    * and `is_current` marks the one open version (the reference's
    * latest-state = exactly the is_current slice, minus deleted entities).
    *
    * Version boundaries come from the same binlog (file, pos, row) total
    * order ST3 pins. Scale shape: one exchange on (db, tbl, id); both
    * windows and the final sort reuse that partitioning.
    */
  def scd2History(s: SparkSession, d: String): DataFrame =
    scd2HistoryFrom(CdcPipeline.changes(s))

  /** c06 over any changes-shaped frame (spec-injectable face — the spec
    * drives the duplicate-coordinate divergence case that the F8-clean
    * fixtures cannot produce).
    */
  def scd2HistoryFrom(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    // F8 says a redelivery is byte-identical, so distinct over the FULL
    // projected row (the oracle's SELECT DISTINCT), not just the binlog
    // coordinate: if that contract is ever violated upstream — two
    // differing payloads at one coordinate — both engines keep both rows
    // as separate versions instead of Spark silently picking one. The
    // payload tiebreaks (op, then the image columns null-sentineled so
    // neither engine's null-ordering default enters: Long.MinValue for a
    // long, '' for the rest) make the version numbering deterministic and
    // identical on both sides even in that case.
    val names = CdcPipeline.imageColumns.map(_._1)
    val tiebreak = col("op") +: CdcPipeline.imageColumns.map {
      case (n, LongType) => coalesce(col(n), lit(Long.MinValue))
      case (n, _) => coalesce(col(n).cast("string"), lit(""))
    }
    val w = Window.partitionBy(col("db"), col("tbl"), col("id"))
      .orderBy(col("file") +: col("pos") +: col("row") +: tiebreak: _*)
    changes
      .select(Seq(col("db"), col("tbl"), col("id"), col("op")) ++
        CdcPipeline.image(col("after")) ++ Seq(col("file"), col("pos"), col("row")): _*)
      .distinct()
      .withColumn("next_op", lead(col("op"), 1).over(w))
      .filter(col("op") =!= "D")
      .withColumn("ver", row_number().over(w).cast("long"))
      .select(Seq(col("db"), col("tbl"), col("id"), col("ver")) ++ names.map(col) :+
        col("next_op").isNull.as("is_current"): _*)
      .orderBy("db", "tbl", "id", "ver")
  }

  val scd2HistorySql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT payload.source.db AS db, payload.source."table" AS tbl,
       |         coalesce(payload.after.id, payload.before.id) AS id,
       |         CASE WHEN payload.before IS NULL AND payload.after IS NOT NULL THEN 'I'
       |              WHEN payload.before IS NOT NULL AND payload.after IS NOT NULL THEN 'U'
       |              WHEN payload.before IS NOT NULL AND payload.after IS NULL THEN 'D'
       |              ELSE 'X' END AS op,
       |         payload.after.name AS name,
       |         CAST(payload.after.amount AS BIGINT) AS amount,
       |         payload.source.file AS f, payload.source.pos AS p,
       |         payload.source."row" AS r
       |  FROM read_json_auto('${CdcPipeline.eventsPath}')),
       |x AS (SELECT *, lead(op) OVER (
       |        PARTITION BY db, tbl, id ORDER BY f, p, r, op,
       |          coalesce(name, ''), coalesce(amount, -9223372036854775808)
       |      ) AS next_op FROM e),
       |v AS (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY db, tbl, id ORDER BY f, p, r, op,
       |          coalesce(name, ''), coalesce(amount, -9223372036854775808)
       |      ) AS BIGINT) AS ver
       |      FROM x WHERE op <> 'D')
       |SELECT db, tbl, id, ver, name, amount,
       |  next_op IS NULL AS is_current
       |FROM v ORDER BY db, tbl, id, ver""".stripMargin

  /** c07 recovery coordinate: mid-way through the second binlog file, so
    * the predicate exercises all three levels of the (file, pos, row)
    * lexicographic tuple order ST3 pins.
    */
  private val PITR_FILE = "mysql-bin.000002"
  private val PITR_POS  = 40L
  private val PITR_ROW  = 0L

  /** c07: point-in-time recovery — reconstruct the table state AS OF a
    * binlog coordinate, the operational capability behind "what did the
    * sink hold before the bad deploy at pos X?". The reference's
    * latest-state-only MySQL sink cannot answer this (replaying from the
    * retained binlog is a full re-consume); over the same change events it
    * is one predicate: keep changes with (file, pos, row) ≤ the recovery
    * coordinate, then the c01 latest-state fold. The cutoff prunes BEFORE
    * the per-entity window, so the exchange carries only the ≤-coordinate
    * prefix of the stream — at scale, binlog-file-partitioned storage makes
    * the cutoff a partition-pruning predicate, not a scan filter.
    */
  def pitrState(s: SparkSession, d: String): DataFrame = {
    val cut = col("file") < PITR_FILE ||
      (col("file") === PITR_FILE &&
        (col("pos") < PITR_POS ||
          (col("pos") === PITR_POS && col("row") <= PITR_ROW)))
    CdcPipeline.latestStateOf(CdcPipeline.changes(s).filter(cut))
  }

  val pitrStateSql: String =
    s"""WITH e AS (
       |  SELECT payload.source.db AS db, payload.source."table" AS tbl,
       |         coalesce(payload.after.id, payload.before.id) AS id,
       |         CASE WHEN payload.before IS NULL AND payload.after IS NOT NULL THEN 'I'
       |              WHEN payload.before IS NOT NULL AND payload.after IS NOT NULL THEN 'U'
       |              WHEN payload.before IS NOT NULL AND payload.after IS NULL THEN 'D'
       |              ELSE 'X' END AS op,
       |         payload.after.name AS name, payload.after.amount AS amount,
       |         payload.source.file AS f, payload.source.pos AS p,
       |         payload.source."row" AS r
       |  FROM read_json_auto('${CdcPipeline.eventsPath}')),
       |cut AS (SELECT * FROM e
       |        WHERE f < '$PITR_FILE' OR (f = '$PITR_FILE'
       |          AND (p < $PITR_POS OR (p = $PITR_POS AND r <= $PITR_ROW)))),
       |ranked AS (SELECT *, row_number() OVER (
       |             PARTITION BY db, tbl, id ORDER BY f DESC, p DESC, r DESC) AS rn
       |           FROM cut)
       |SELECT db, tbl, id, name, CAST(amount AS BIGINT) AS amount
       |FROM ranked WHERE rn = 1 AND op <> 'D'
       |ORDER BY db, tbl, id""".stripMargin

  // ----------------------------------------------- c08 binlog audit
  /** c08: replication-health audit per (db, table) — the operational
    * dashboard a CDC deployment reads before trusting its sink: event
    * and op counts, the binlog coordinate SPAN actually covered
    * (first/last (file, pos, row) as zero-padded sortable strings — the
    * same total order ST3 replays by), duplicate-coordinate count (the
    * F8 at-least-once contract says redeliveries are byte-identical;
    * >0 here with differing payloads is the contract violation the
    * advice review flagged on c06), and wall-clock regressions against
    * log order (source.ts_ms going backwards while the binlog position
    * advances — the clock-vs-log skew that breaks any pipeline naively
    * ordering by timestamp instead of coordinates, i.e. WHY ST3 orders
    * by (file, pos, row)).
    *
    * Scale shape: one pass over the events, a per-(db, tbl) window in
    * coordinate order for the regression count (partitions grow with
    * table count, per-key state is one lag value), and a |tables|-row
    * aggregate.
    */
  def binlogAudit(s: SparkSession, d: String): DataFrame =
    binlogAuditAt(s, CdcPipeline.eventsPath)

  /** c08 over any Debezium-envelope jsonl (spec-injectable face). */
  private[graft] def binlogAuditAt(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = CdcPipeline.changes(s, path).select(
      col("db"), col("tbl"), col("op"),
      concat(col("file"), lit(":"),
        lpad(col("pos").cast("string"), 10, "0"), lit(":"),
        lpad(col("row").cast("string"), 5, "0")).as("coord"),
      col("src_ts"))
    // src_ts as a secondary key: duplicate coordinates are window TIES,
    // and if the F8 byte-identical contract is violated with differing
    // ts_ms (the very case this audit surfaces) a coord-only order makes
    // the lag — and so the regression count — nondeterministic across
    // engines; ordering ties by src_ts pins it on both sides
    val w = Window.partitionBy(col("db"), col("tbl"))
      .orderBy(col("coord"), col("src_ts"))
    e.withColumn("prev_ts", lag(col("src_ts"), 1).over(w))
      .groupBy(col("db"), col("tbl"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("op") === "I", 1)).as("n_inserts"),
        count(when(col("op") === "U", 1)).as("n_updates"),
        count(when(col("op") === "D", 1)).as("n_deletes"),
        countDistinct(col("coord")).as("n_coords"),
        (count(lit(1)) - countDistinct(col("coord"))).as("n_dup_coords"),
        count(when(col("src_ts") < col("prev_ts"), 1)).as("ts_regressions"),
        min(col("coord")).as("first_coord"),
        max(col("coord")).as("last_coord"))
      .orderBy("db", "tbl")
  }

  /** c08 oracle: same coordinate padding, window order and counts. */
  val binlogAuditSql: String =
    s"""WITH e AS (SELECT payload.source.db AS db,
       |    payload.source."table" AS tbl,
       |    CASE WHEN payload.before IS NULL AND payload.after IS NOT NULL THEN 'I'
       |         WHEN payload.before IS NOT NULL AND payload.after IS NOT NULL THEN 'U'
       |         WHEN payload.before IS NOT NULL AND payload.after IS NULL THEN 'D'
       |         ELSE 'X' END AS op,
       |    payload.source.file || ':' ||
       |      lpad(CAST(payload.source.pos AS VARCHAR), 10, '0') || ':' ||
       |      lpad(CAST(payload.source."row" AS VARCHAR), 5, '0') AS coord,
       |    payload.source.ts_ms AS src_ts
       |  FROM read_json_auto('${CdcPipeline.eventsPath}')),
       |l AS (SELECT *, lag(src_ts) OVER (PARTITION BY db, tbl ORDER BY coord, src_ts)
       |        AS prev_ts FROM e)
       |SELECT db, tbl, count(*) AS n_events,
       |  CAST(count(*) FILTER (op = 'I') AS BIGINT) AS n_inserts,
       |  CAST(count(*) FILTER (op = 'U') AS BIGINT) AS n_updates,
       |  CAST(count(*) FILTER (op = 'D') AS BIGINT) AS n_deletes,
       |  CAST(count(DISTINCT coord) AS BIGINT) AS n_coords,
       |  CAST(count(*) - count(DISTINCT coord) AS BIGINT) AS n_dup_coords,
       |  CAST(count(*) FILTER (src_ts < prev_ts) AS BIGINT) AS ts_regressions,
       |  min(coord) AS first_coord, max(coord) AS last_coord
       |FROM l GROUP BY db, tbl ORDER BY db, tbl""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c08_binlog_audit" -> (binlogAudit _),
    "c07_pitr_state" -> (pitrState _),
    "c06_scd2_history" -> (scd2History _),
    "c01_cdc_latest_state" -> (latestState _),
    "c02_cdc_op_counts" -> (opCounts _),
    "c03_ddl_decisions" -> (ddlDecisions _),
    "c04_decoders_golden" -> (decodersGolden _),
    "c05_typed_latest_state" -> (typedLatestState _))

  val oracles: Map[String, String] = Map(
    "c08_binlog_audit" -> binlogAuditSql,
    "c07_pitr_state" -> pitrStateSql,
    "c06_scd2_history" -> scd2HistorySql,
    "c01_cdc_latest_state" -> latestStateSql,
    "c02_cdc_op_counts" -> opCountsSql,
    "c03_ddl_decisions" -> ddlDecisionsSql,
    "c04_decoders_golden" -> decodersGoldenSql,
    "c05_typed_latest_state" -> typedLatestStateSql)
}
