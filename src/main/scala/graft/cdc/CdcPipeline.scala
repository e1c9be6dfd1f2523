package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** The reference's CDC hot path (main.go:348-377) re-expressed as
  * declarative Spark transforms:
  *
  *   parse (P1)      — from_json with the envelope StructType
  *   classify (P5)   — op from before/after NULLNESS, not the `op` field
  *                     (main.go:365-377 parses but ignores `op`; snapshot
  *                     reads arrive as before=null ⇒ treated as inserts)
  *   order (ST3)     — binlog (file, pos, row) total order, not arrival
  *   dedup (F8)      — duplicate redelivery collapses in the rank window
  *   latest state    — rank=1 per (db, table, pk) minus deletes: what the
  *                     reference's MySQL sink would contain
  *
  * Scale: latest-state is ONE shuffle on (db, table, pk); at 100 TB the
  * fact stream partitions by pk hash, the window is per-key (small), and
  * AQE handles hot-key skew. No per-event round-trips (the reference does
  * 1 event : 1 SQL statement, main.go:63-169).
  */
object CdcPipeline {

  /** Default fixture path (FIXTURES.md A1-shaped synthetic events). */
  val eventsPath = "/root/repo/fixtures/cdc_events.jsonl"
  val ddlPath = "/root/repo/fixtures/cdc_ddl.jsonl"

  /** Raw JSON lines → typed envelope columns. */
  def parseDml(s: SparkSession, path: String = eventsPath): DataFrame =
    s.read.schema(Envelope.dmlEnvelopeSchema).json(path)

  def parseDdl(s: SparkSession, path: String = ddlPath): DataFrame =
    s.read.schema(Envelope.ddlEnvelopeSchema).json(path)

  /** P5: op from the nullness of the row images — I / U / D — never from
    * the `op` field (main.go:365-377); null when neither image is there.
    * The batch faces read that record as "X" ([[changes]]); the consumer
    * routes it to its error sink as "no row image".
    */
  def opOf(before: Column, after: Column): Column =
    when(before.isNull && after.isNotNull, "I")
      .when(before.isNotNull && after.isNotNull, "U")
      .when(before.isNotNull && after.isNull, "D")

  /** The change projection of a parsed DML payload, in this order: db,
    * tbl, op ([[opOf]]), id (from the after image, else the before one),
    * the after image, and the binlog coordinate (file, pos, row).
    */
  def changeOf(payload: Column): Seq[Column] = {
    val (before, after, src) = (payload("before"), payload("after"), payload("source"))
    Seq(src("db").as("db"), src("table").as("tbl"), opOf(before, after).as("op"),
      element_at(coalesce(after, before), "id").cast("long").as("id"), after.as("after"),
      src("file").as("file"), src("pos").as("pos"), src("row").as("row"))
  }

  /** The typed row-image columns every face carries past the change
    * projection: the latest state, the consumer's state, the SCD2 history
    * and both JDBC sinks read the image through this list alone.
    */
  val imageColumns: Seq[(String, DataType)] = Seq("name" -> StringType, "amount" -> LongType)

  /** [[imageColumns]] read from a row image, each named and typed. */
  def image(after: Column): Seq[Column] =
    imageColumns.map { case (name, t) => element_at(after, name).cast(t).as(name) }

  /** Flattened change-event view: the change projection, with op "X" for
    * a record with no image, plus the P4 query and the source `ts_ms`.
    */
  def changes(s: SparkSession, path: String = eventsPath): DataFrame =
    parseDml(s, path)
      .select(changeOf(col("payload")) ++ Seq(
        passthroughQuery(col("payload.source.query")).as("query"),
        col("payload.source.ts_ms").as("src_ts")): _*)
      .withColumn("op", coalesce(col("op"), lit("X")))

  /** P4: carry the captured original statement verbatim when its length
    * exceeds 5 (main.go:357-359); null otherwise. The JDBC sink applies it
    * directly instead of re-synthesizing.
    */
  def passthroughQuery(q: Column): Column =
    when(length(q) > 5, q).otherwise(lit(null).cast("string"))

  /** ST3 + F8: the binlog-latest row per (db, tbl, id) of any frame with
    * those keys and the (file, pos, row) coordinate; a duplicate (the same
    * coordinate redelivered) collapses through row_number.
    */
  def latest(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("db"), col("tbl"), col("id"))
      .orderBy(col("file").desc, col("pos").desc, col("row").desc)
    changes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Latest surviving (db, tbl, id, image) rows of a changes frame: what
    * the reference's MySQL sink would contain.
    */
  def latestStateOf(changes: DataFrame): DataFrame =
    latest(changes).filter(col("op") =!= "D")
      .select(Seq(col("db"), col("tbl"), col("id")) ++ image(col("after")): _*)
      .orderBy("db", "tbl", "id")

  /** c01: the latest state of the fixture's changes. */
  def latestState(s: SparkSession, path: String = eventsPath): DataFrame =
    latestStateOf(changes(s, path))

  /** Per-table op counts (classification check). */
  def opCounts(s: SparkSession, path: String = eventsPath): DataFrame =
    changes(s, path)
      .groupBy(col("tbl"), col("op"))
      .agg(count(lit(1)).as("n"))
      .orderBy("tbl", "op")

  // --------------------------------------------------------------- DDL path
  /** F6 `IsBlock` (utils/clean.go:113-140): case-sensitive substring
    * block-list; DROP TABLE blocked unless reclaim.
    */
  def isBlockedDdl(ddl: Column, reclaim: Boolean): Column = {
    val base = ddl.contains("CREATE DATABASE") || ddl.contains("USE") ||
      ddl.contains("DROP DATABASE")
    if (reclaim) base else base || ddl.contains("DROP TABLE")
  }

  /** Full DDL decision chain (main.go:390-415) over a parsed DDL payload:
    * instance filter (F5), whitelist (F4), empty guard (F7), block-list
    * (F6). One decision per event; the streaming layer acts on 'apply'.
    */
  def ddlDecision(payload: Column, tables: Seq[String], reclaim: Boolean,
      replaceAll: Boolean): Column = {
    val (db, ddl) = (payload("databaseName"), payload("ddl"))
    val whitelist = if (replaceAll) lit(true) else payload("source")("table").isin(tables: _*)
    when(db.isNull || length(db) === 0, "skip_instance")
      .when(!whitelist, "skip_whitelist")
      .when(ddl.isNull || length(ddl) === 0, "error_empty")
      .when(isBlockedDdl(ddl, reclaim), "blocked")
      .otherwise("apply")
  }

  /** c03: the [[ddlDecision]] of every fixture DDL event. */
  def ddlDecisions(s: SparkSession, tables: Seq[String], reclaim: Boolean,
      replaceAll: Boolean, path: String = ddlPath): DataFrame =
    parseDdl(s, path).select(
      col("ddl_id"),
      col("payload.databaseName").as("db"),
      col("payload.ddl").as("ddl"),
      ddlDecision(col("payload"), tables, reclaim, replaceAll).as("decision"))
      .orderBy("ddl_id")

  /** P7: strip the backtick-quoted db qualifier before sink exec
    * (main.go:87).
    */
  def stripDbQualifier(ddl: Column, db: Column): Column =
    regexp_replace(ddl, concat(lit("`"), db, lit("`\\.")), lit(""))
}
