package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Decoders

/** P3: schema-registry-driven typed decoding.
  *
  * The reference re-scans the per-event schema tree for every column of
  * every message (data/model.go:56-73 — O(fields) per value). Here the
  * schema tree is read ONCE per table into a registry (a bounded
  * driver-side map, like a catalog), and decoding becomes a typed,
  * codegen'd projection over the string row-image maps — zero per-row
  * schema work on the hot path.
  */
object SchemaRegistry {

  /** Connect/Debezium logical column type → decoder dispatch. */
  sealed trait LogicalType
  case object PlainString extends LogicalType
  case object PlainLong extends LogicalType
  case object PlainDouble extends LogicalType
  case object BoolInt extends LogicalType
  final case class ConnectDecimal(scale: Int) extends LogicalType
  case object EpochDate extends LogicalType
  final case class EpochMillis(shiftHours: Int = 0) extends LogicalType
  case object MicroTime extends LogicalType
  final case class ZonedTs(shiftHours: Int = 7) extends LogicalType

  /** One registry column: latest logical type plus the single piece of
    * HISTORY the decoder needs — whether any schema generation of this
    * column was boolean. The PlainLong boolean fallback is gated on that
    * provenance: a never-boolean long column keeps the strict fail-loud
    * ANSI cast, so corrupted images like 'true' cannot silently mint 1L.
    */
  final case class ColumnSpec(name: String, logicalType: LogicalType,
      boolGeneration: Boolean = false)

  /** Envelope `schema.fields` tree (data/model.go:35-53), one nesting level
    * (envelope section → columns) as used by Debezium MySQL.
    */
  val schemaTreeType: StructType = {
    val colField = StructType(Seq(
      StructField("type", StringType),
      StructField("optional", BooleanType),
      StructField("name", StringType),
      StructField("field", StringType),
      StructField("parameters", MapType(StringType, StringType))))
    StructType(Seq(StructField("schema", StructType(Seq(
      StructField("type", StringType),
      StructField("fields", ArrayType(StructType(Seq(
        StructField("type", StringType),
        StructField("optional", BooleanType),
        StructField("name", StringType),
        StructField("field", StringType),
        StructField("fields", ArrayType(colField)),
        StructField("parameters", MapType(StringType, StringType)))))))))))
  }

  /** Map one schema-tree field row to a LogicalType (main.go:205-346's
    * dispatch, resolved once instead of per value).
    */
  def logicalTypeOf(physicalType: String, logicalName: String,
      parameters: Map[String, String]): LogicalType =
    Option(logicalName).getOrElse("") match {
      case "org.apache.kafka.connect.data.Decimal" =>
        ConnectDecimal(parameters.getOrElse("scale", "0").toInt)
      case "io.debezium.time.Date" => EpochDate
      case "io.debezium.time.Timestamp" => EpochMillis()
      case "io.debezium.time.MicroTime" => MicroTime
      case "io.debezium.time.ZonedTimestamp" => ZonedTs()
      case _ => physicalType match {
        case "boolean" => BoolInt
        case "int8" | "int16" | "int32" | "int64" => PlainLong
        case "float32" | "float64" => PlainDouble
        case _ => PlainString
      }
    }

  /** Build the registry from a CDC event file: ONE schema tree per table —
    * the LATEST in binlog (file, pos, row) order, which is how Debezium
    * evolves schemas at runtime (main.go:87-88's re-read on DDL): after an
    * ALTER adds a column, later events carry the widened tree, and
    * decoding pre-ALTER row images through it yields null for the new
    * column (map lookup miss), exactly the SQL semantics of ALTER ADD.
    * First-event-wins would silently DROP every post-ALTER column. The
    * registry is tiny (tables × columns), safely driver-resident, rebuilt
    * per batch.
    */
  def fromEvents(spark: SparkSession, path: String): Map[(String, String), Seq[ColumnSpec]] =
    registryOf(schemaFrame(spark, path))

  /** The (db, tbl, coord, cols) projection every registry consumer
    * shares — one definition, so the checked path can persist it and
    * derive both the violation scan and the registry from ONE parse.
    */
  private def schemaFrame(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(
      StructType(schemaTreeType.fields :+
        StructField("payload", Envelope.dmlPayloadSchema))).json(path)
      .select(
        col("payload.source.db").as("db"),
        col("payload.source.table").as("tbl"),
        struct(col("payload.source.file"), col("payload.source.pos"),
          col("payload.source.row")).as("coord"),
        expr("filter(schema.fields, f -> f.field = 'after')[0].fields").as("cols"))
      .filter(col("cols").isNotNull)

  private def specOf(f: Row): (String, LogicalType) = {
    val params = Option(f.getAs[Map[String, String]]("parameters"))
      .getOrElse(Map.empty[String, String])
    f.getAs[String]("field") ->
      logicalTypeOf(f.getAs[String]("type"), f.getAs[String]("name"), params)
  }

  private def registryOf(frame: DataFrame): Map[(String, String), Seq[ColumnSpec]] = {
    // columns with a boolean generation ANYWHERE in their history (the
    // cols structs carry a parameters MAP, so distinct runs on the
    // projected scalar triple, not the struct) — bounded by tables ×
    // columns, like the registry itself
    val boolCols = frame
      .select(col("db"), col("tbl"), explode(col("cols")).as("f"))
      .filter(col("f.type") === "boolean")
      .select(col("db"), col("tbl"), col("f.field"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    frame.groupBy("db", "tbl").agg(max_by(col("cols"), col("coord")).as("cols"))
      .collect().map { r =>
        val (db, tbl) = (r.getString(0), r.getString(1))
        (db, tbl) ->
          r.getSeq[Row](2).map { f =>
            val (n, t) = specOf(f)
            ColumnSpec(n, t, boolCols.contains((db, tbl, n)))
          }
      }.toMap
  }

  /** Is a column's logical-type transition across schema generations
    * WIDENING (safe to replay via latest-tree decoding)? Widening means
    * every old value decodes losslessly under the new type: bool→int,
    * anything→string (the row image is already strings). int→double is
    * NOT whitelisted: longs above 2^53 change value under a double
    * decode — the silent-misdecode class this guard exists to reject.
    * Decimal scale change — in EITHER direction — is NOT whitelisted
    * either: the row image carries UNSCALED bytes whose value depends on
    * the scale of the schema generation that WROTE them, so latest-tree
    * decoding of a pre-ALTER image under the new scale shifts every old
    * value by 10^(s2-s1) silently (12345 @ scale 2 = 123.45 decodes as
    * 1.2345 after a "widening" to scale 4). A scale ALTER needs
    * per-generation decode or a re-snapshot, so it is rejected loudly.
    * Anything else — string→int, double→int, timestamp→date — would
    * silently misdecode pre-ALTER rows (unparseable values become null
    * with no error), so it must be REJECTED loudly instead (see
    * [[fromEventsChecked]]).
    */
  def isWidening(from: LogicalType, to: LogicalType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (BoolInt, PlainLong) => true
    case (_, PlainString) => true
    case _ => false
  }

  final case class EvolutionViolation(db: String, tbl: String, column: String,
      from: LogicalType, to: LogicalType)

  /** Report columns whose type transitions are not widening. Each
    * COLUMN's type history is lag-compared per (db, tbl, column) in
    * binlog order over the events where the column exists — so a revert
    * sequence A→B→A keeps its B→A edge, and a DROP + re-ADD at a
    * different type still compares the column's consecutive OCCURRENCES
    * (a tree-level adjacent compare would see only an intersecting-key
    * no-op on each edge and miss the narrowing entirely). Only the
    * DISTINCT transitions are collected, so the driver-side frame is
    * bounded by DDL-change count, never event count.
    */
  def evolutionViolations(spark: SparkSession, path: String): Seq[EvolutionViolation] =
    violationsOf(schemaFrame(spark, path))

  private def violationsOf(frame: DataFrame): Seq[EvolutionViolation] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("db", "tbl", "column").orderBy("coord")
    // type equality via the JSON rendering — the col structs carry a
    // parameters MAP, which Spark cannot compare or group on directly
    val transitions = frame
      .select(col("db"), col("tbl"), col("coord"), explode(col("cols")).as("f"))
      .select(col("db"), col("tbl"), col("coord"),
        col("f.field").as("column"),
        to_json(struct(col("f.type"), col("f.name"), col("f.parameters"))).as("tsig"),
        col("f"))
      .withColumn("prev_tsig", lag(col("tsig"), 1).over(w))
      .withColumn("prev_f", lag(col("f"), 1).over(w))
      .filter(col("prev_tsig").isNotNull && col("prev_tsig") =!= col("tsig"))
      .groupBy("db", "tbl", "column", "prev_tsig", "tsig")
      .agg(first(col("prev_f")).as("prev_f"), first(col("f")).as("f"))
      .collect()
    transitions.toSeq.flatMap { r =>
      val (_, from) = specOf(r.getAs[Row]("prev_f"))
      val (_, to) = specOf(r.getAs[Row]("f"))
      if (isWidening(from, to)) Nil
      else Seq(EvolutionViolation(r.getAs[String]("db"), r.getAs[String]("tbl"),
        r.getAs[String]("column"), from, to))
    }.distinct
  }

  /** [[fromEvents]] guarded by the narrowing check: an unsupported ALTER
    * fails the BATCH loudly (the ST4 pause-the-world discipline — the
    * operator repairs the schema or re-snapshots) instead of silently
    * nulling every pre-ALTER value the narrowed type can't parse.
    */
  def fromEventsChecked(spark: SparkSession, path: String): Map[(String, String), Seq[ColumnSpec]] = {
    // one parse feeds both the violation scan and the registry build
    val frame = schemaFrame(spark, path).persist()
    try {
      val violations = violationsOf(frame)
      if (violations.nonEmpty)
        throw new IllegalStateException(
          "unsupported narrowing schema evolution: " + violations.map(v =>
            s"${v.db}.${v.tbl}.${v.column} ${v.from} -> ${v.to}").mkString("; "))
      registryOf(frame)
    } finally { frame.unpersist(); () }
  }

  /** Typed projection of a string row-image map per the column specs. */
  def decodeImage(image: Column, spec: Seq[ColumnSpec]): Seq[Column] =
    spec.map { cs =>
      val raw = element_at(image, cs.name)
      val decoded = cs.logicalType match {
        case PlainString => raw
        // boolean-aware ONLY for columns whose history holds a boolean
        // generation (ColumnSpec.boolGeneration): isWidening whitelists
        // BoolInt -> PlainLong, and pre-ALTER boolean row images are the
        // STRINGS 'true'/'false' (fixtures/cdc_typed_events.jsonl) which
        // a bare cast("long") breaks on — the misdecode class
        // fromEventsChecked exists to reject. Even then only the literal
        // true/false renderings take the boolean path: Spark's boolean
        // cast also accepts 'y'/'yes'/'t'/'n'/'no'/'f', and routing
        // those through it would silently decode garbage to 1L/0L.
        // Everything else — including EVERY image of a never-boolean
        // column — takes the plain long cast, which keeps legitimate
        // renderings like '+7' or ' 7' decodable and fails the batch
        // loudly under ANSI on genuine garbage.
        case PlainLong if cs.boolGeneration =>
          when(lower(trim(raw)).isin("true", "false"),
            Decoders.boolToInt(raw.cast("boolean")).cast("long"))
          .otherwise(raw.cast("long"))
        case PlainLong => raw.cast("long")
        case PlainDouble => raw.cast("double")
        case BoolInt => Decoders.boolToInt(raw.cast("boolean"))
        case ConnectDecimal(scale) => Decoders.debeziumDecimal(raw, scale)
        case EpochDate => Decoders.debeziumDate(raw)
        case EpochMillis(shift) => Decoders.debeziumTimestamp(raw, shift)
        case MicroTime => Decoders.debeziumMicroTime(raw)
        case ZonedTs(shift) => Decoders.debeziumZonedTimestamp(raw, shift)
      }
      decoded.as(cs.name)
    }

  /** Typed latest state of one table: binlog-latest surviving rows decoded
    * through the registry spec.
    */
  def typedLatestState(spark: SparkSession, path: String, db: String,
      table: String): DataFrame = {
    val spec = fromEvents(spark, path)((db, table))
    CdcPipeline.latest(CdcPipeline.changes(spark, path)
        .filter(col("db") === db && col("tbl") === table))
      .filter(col("op") =!= "D")
      .select(decodeImage(col("after"), spec): _*)
      .orderBy("id")
  }
}
