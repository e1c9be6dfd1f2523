package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.Envelope

/** Structured-Streaming fidelity layer (SURVEY §2.5): the reference's
  * consumer loop (main.go:63-169) as a micro-batched, idempotent pipeline.
  *
  *   ST1  at-least-once source + idempotent keyed upsert  ⇒ effective
  *        exactly-once (strictly better than the reference's dup-skip F8,
  *        main.go:138-141)
  *   ST2  bounded retry: failed records carry a `loop` count (the
  *        reference's Kafka header, main.go:174-203); when it reaches
  *        `republishLimit` (default 3, config/config.go:21) they land in
  *        the DLQ, else in the retry sink for redelivery
  *   ST3  binlog (file,pos,row) ordering inside the upsert window
  *   S4   error sink rows (data, error, table_name, db_name), mirroring
  *        the reference's `data_err` table (main.go:143-147)
  *
  * The state sink here is read-merge-overwrite parquet — the local stand-in
  * for a lakehouse MERGE/JDBC upsert in `foreachBatch`; swap `upsertBatch`'s
  * tail for `MERGE INTO` at scale. Micro-batch boundaries provide the
  * pause-the-world DDL barrier (ST4) — DDL rows would be applied on the
  * driver between batches.
  */
object CdcStreaming {

  final case class SinkPaths(state: String, errors: String, retry: String, dlq: String)

  /** Parse + classify one micro-batch of raw (value, loop) records and
    * split valid/invalid. Tombstones (empty value, F2 main.go:124-126) are
    * dropped. Invalid rows carry a `reason`: "unparseable envelope" (no
    * Debezium payload, malformed JSON included), "no source table",
    * "no row image" (both images null) or "missing id".
    */
  def parseBatch(batch: DataFrame): (DataFrame, DataFrame) = {
    // Classify every non-tombstone record ONCE, then split on a single
    // predicate so valid/invalid are exact complements — a record that
    // parses but classifies as op 'X' (both images null) or lacks an id
    // must reach the error/retry/DLQ sinks, not vanish (the reference logs
    // every failed record to data_err, main.go:143-147).
    val classified = batch
      .filter(length(col("value")) > 0)
      .withColumn("env", from_json(col("value"), Envelope.dmlEnvelopeSchema))
      .withColumn("op",
        when(col("env.payload").isNull || col("env.payload.source.table").isNull, "X")
          .when(col("env.payload.before").isNull && col("env.payload.after").isNotNull, "I")
          .when(col("env.payload.before").isNotNull && col("env.payload.after").isNotNull, "U")
          .when(col("env.payload.before").isNotNull && col("env.payload.after").isNull, "D")
          .otherwise("X"))
      .withColumn("id",
        element_at(coalesce(col("env.payload.after"), col("env.payload.before")), "id")
          .cast("long"))
    val isValid = col("op") =!= "X" && col("id").isNotNull
    val valid = classified
      .filter(isValid)
      .select(
        col("env.payload.source.db").as("db"),
        col("env.payload.source.table").as("tbl"),
        col("op"), col("id"),
        col("env.payload.after").as("after"),
        col("env.payload.source.file").as("file"),
        col("env.payload.source.pos").as("pos"),
        col("env.payload.source.row").as("row"))
    val invalid = classified.filter(!isValid).select(col("value"), col("loop"),
      when(col("env.payload").isNull, "unparseable envelope")
        .when(col("env.payload.source.table").isNull, "no source table")
        .when(col("op") === "X", "no row image")
        .otherwise("missing id").as("reason"))
    (valid, invalid)
  }

  // ----------------------------------------------------- state commit log
  /** The materialized state is a tiny commit log: `statePath/` holds
    * immutable version directories (v00000001, v00000002, …) plus a
    * one-line `_CURRENT` manifest naming the committed version. A commit
    * writes a FRESH version dir, then publishes it with a single atomic
    * rename of the manifest — so there is NO window in which a crash loses
    * state (the r3 layout's read-merge-overwrite double-move could drop the
    * `.old` copy if killed between its two Files.move calls). A crash
    * before the manifest rename leaves an orphan version dir that the next
    * successful commit garbage-collects; a crash during it is resolved by
    * ATOMIC_MOVE (reader sees old or new manifest, never a torn one). This
    * is the local-fs miniature of a lakehouse table-format commit —
    * swap the whole block for `MERGE INTO` on Delta/Iceberg at scale.
    */
  private val Manifest = "_CURRENT"
  private val VersionRe = "v(\\d{8})".r

  private def committedVersion(root: Path): Option[String] = {
    val m = root.resolve(Manifest)
    if (Files.exists(m)) Some(Files.readString(m).trim) else None
  }

  private def listVersions(root: Path): Seq[String] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case v @ VersionRe(_) => v }.toSeq
      finally s.close()
    }

  /** Publish `df` as the next committed version of `statePath`. */
  private def commitVersion(df: DataFrame, root: Path): Unit = {
    Files.createDirectories(root)
    // next = max existing + 1 (not committed + 1): an orphan dir from a
    // crashed commit must never be re-used for fresh data
    val next = f"v${listVersions(root).map(_.drop(1).toInt).maxOption.getOrElse(0) + 1}%08d"
    df.write.mode(SaveMode.ErrorIfExists).parquet(root.resolve(next).toString)
    val tmp = root.resolve(Manifest + ".tmp")
    Files.writeString(tmp, next)
    Files.move(tmp, root.resolve(Manifest),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    listVersions(root).filterNot(_ == next).foreach(v => deleteRec(root.resolve(v)))
  }

  /** Idempotent keyed upsert: union incoming changes with current state,
    * keep the binlog-latest surviving row per (db, tbl, id). Re-applying
    * the same batch is a no-op (exactly-once effect). The merge reads the
    * committed version and writes a NEW one, so no cache/count
    * pre-materialization is needed — the write never overwrites its input.
    */
  def upsertBatch(spark: SparkSession, valid: DataFrame, statePath: String): Unit = {
    val incoming = valid.select(
      col("db"), col("tbl"), col("id"),
      element_at(col("after"), "name").as("name"),
      element_at(col("after"), "amount").cast("long").as("amount"),
      col("op"), col("file"), col("pos"), col("row"))
    val root = Paths.get(statePath)
    val current = committedVersion(root) match {
      case Some(v) => spark.read.parquet(root.resolve(v).toString)
      case None    => incoming.limit(0)
    }
    val w = Window.partitionBy(col("db"), col("tbl"), col("id"))
      .orderBy(col("file").desc, col("pos").desc, col("row").desc)
    val merged = current.unionByName(incoming)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    commitVersion(merged, root)
  }

  /** Live rows of the materialized state (delete tombstones stay in the
    * sink for ordering correctness — a late-arriving older update must not
    * resurrect a deleted key — and are dropped on read; compaction would
    * purge them at scale).
    */
  def currentState(spark: SparkSession, statePath: String): DataFrame = {
    val root = Paths.get(statePath)
    val v = committedVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed state at $statePath"))
    spark.read.parquet(root.resolve(v).toString).filter(col("op") =!= "D")
  }

  private def deleteRec(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
    }

  /** Route invalid records (`parseBatch`'s second frame): error-log row
    * with the record's reason always (S4); then, when the
    * REPUBLISH gate is on (config/config.go:20, checked main.go:98,149),
    * retry with loop+1 under the limit (ST2) and DLQ at the limit. With
    * the gate off the reference only error-logs — no redelivery.
    */
  def routeFailures(spark: SparkSession, invalid: DataFrame, paths: SinkPaths,
      republishLimit: Int, republish: Boolean = true): Unit = {
    val errs = invalid.select(
      col("value").as("data"), col("reason").as("error"),
      lit(null).cast("string").as("table_name"), lit(null).cast("string").as("db_name"),
      col("loop"))
    errs.write.mode(SaveMode.Append).parquet(paths.errors)
    if (republish) {
      val retry = invalid.filter(col("loop") + 1 < republishLimit)
        .select(col("value"), (col("loop") + 1).as("loop"))
      if (!retry.isEmpty) retry.write.mode(SaveMode.Append).parquet(paths.retry)
      val dead = invalid.filter(col("loop") + 1 >= republishLimit)
        .select(col("value"), (col("loop") + 1).as("loop"))
      if (!dead.isEmpty) dead.write.mode(SaveMode.Append).parquet(paths.dlq)
    }
  }

  /** ST4 pause-the-world DDL branch: per micro-batch (the natural barrier —
    * no DML of the same batch interleaves), classify schema events
    * (F4-F7), and for each applied DDL: pause the connector (S5), record
    * the qualifier-stripped statement to the applied sink (standing in for
    * `db.Exec(ddl)`, main.go:87-88), then resume with retry
    * (main.go:418-433). Decisions are also appended for audit.
    */
  def startDdlStream(spark: SparkSession, source: DataFrame,
      client: graft.sources.ConnectClient, tables: Seq[String],
      reclaim: Boolean, replaceAll: Boolean,
      appliedPath: String, checkpoint: String,
      resumeBackoffMillis: Long = 1000L): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.{col, from_json, length => flen, when => fwhen, lit => flit}
        val parsed = batch.filter(flen(col("value")) > 0)
          .withColumn("env", from_json(col("value"), Envelope.ddlEnvelopeSchema))
        val whitelist = if (replaceAll) flit(true)
          else col("env.payload.source.table").isin(tables: _*)
        val db = col("env.payload.databaseName")
        val ddl = col("env.payload.ddl")
        val decided = parsed.select(
          db.as("db"),
          ddl.as("ddl"),
          fwhen(db.isNull || flen(db) === 0, "skip_instance")
            .when(!whitelist, "skip_whitelist")
            .when(ddl.isNull || flen(ddl) === 0, "error_empty")
            .when(graft.cdc.CdcPipeline.isBlockedDdl(ddl, reclaim), "blocked")
            .otherwise("apply").as("decision"),
          graft.cdc.CdcPipeline.stripDbQualifier(ddl, db).as("stripped"))
        val toApply = decided.filter(col("decision") === "apply")
          .select("db", "stripped").collect() // DDL batches are tiny by nature
        if (toApply.nonEmpty) {
          require(client.pause(), "connector pause was not acknowledged (need 202)")
          try {
            spark.createDataFrame(
              java.util.Arrays.asList(toApply: _*), decided.select("db", "stripped").schema)
              .write.mode(SaveMode.Append).parquet(appliedPath)
          } finally client.resumeWithRetry(resumeBackoffMillis)
        }
        ()
      }
      .start()

  /** The one micro-batch loop behind every DML consumer mode: per
    * batch, cache the raw records, parse and classify them, hand the valid
    * rows (only `table`'s, when given) to `sink` if there are any, route
    * the invalid ones if there are any, and release the cache.
    */
  private[streaming] def startBatches(spark: SparkSession, source: DataFrame,
      paths: SinkPaths, republishLimit: Int, republish: Boolean,
      checkpoint: String, table: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (valid, invalid) = parseBatch(batch.cache())
        val rows = table.fold(valid)(t => valid.filter(col("tbl") === t))
        if (!rows.isEmpty) sink(rows)
        if (!invalid.isEmpty)
          routeFailures(spark, invalid, paths, republishLimit, republish)
        batch.unpersist()
        ()
      }
      .start()

  /** Streaming variant of the S3 JDBC sink: every micro-batch's valid
    * changes applied as op-specific DML (JdbcSink), invalid records routed
    * to the error/retry/DLQ sinks. The reference's whole consumer loop
    * (main.go:63-169) in one writeStream.
    */
  def startJdbc(spark: SparkSession, source: DataFrame, url: String,
      table: String, paths: SinkPaths, republishLimit: Int = 3,
      checkpoint: String): StreamingQuery =
    startBatches(spark, source, paths, republishLimit, republish = true,
      checkpoint, Some(table))(JdbcSink.applyChanges(_, url, table))

  /** Streaming SCD2 sink: like [[startJdbc]] but each micro-batch appends
    * to a type-2 HISTORY table ([[JdbcSink.applyScd2]]) instead of
    * maintaining latest state — the Debezium→warehouse history-table
    * consumer mode. (id, src_seq) keying makes micro-batch replay after a
    * checkpoint rollback a no-op, so the history is exactly-once-effective
    * under at-least-once delivery.
    */
  def startJdbcScd2(spark: SparkSession, source: DataFrame, url: String,
      cdcTable: String, histTable: String, paths: SinkPaths,
      republishLimit: Int = 3, checkpoint: String): StreamingQuery =
    startBatches(spark, source, paths, republishLimit, republish = true,
      checkpoint, Some(cdcTable))(JdbcSink.applyScd2(_, url, histTable))

  /** Wire a streaming source of (value, loop) records into the
    * parse/upsert/retry sinks via foreachBatch.
    */
  def start(spark: SparkSession, source: DataFrame, paths: SinkPaths,
      republishLimit: Int = 3, checkpoint: String): StreamingQuery =
    startBatches(spark, source, paths, republishLimit, republish = true,
      checkpoint)(upsertBatch(spark, _, paths.state))
}
