package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{classic, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{CdcPipeline, Envelope}

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
  *
  * Per DML micro-batch ([[runBatch]]): classify the records once into a
  * cached frame → one aggregate for every gate and count → the sink and
  * the error/retry/DLQ writes side by side, each only when it has rows →
  * one JSON line on the `graft.streaming.batch` logger → release the
  * cache.
  */
object CdcStreaming {

  final case class SinkPaths(state: String, errors: String, retry: String, dlq: String)

  /** Why a record is invalid, in the order [[classify]] tests them. */
  private val Reasons: Seq[String] =
    Seq("unparseable envelope", "no source table", "no row image", "missing id")

  /** Parse + classify one micro-batch of raw (value, loop) records and
    * split valid/invalid: `split(classify(batch))`. Tombstones (empty
    * value, F2 main.go:124-126) are dropped. Invalid rows carry a `reason`:
    * "unparseable envelope" (no Debezium payload, malformed JSON included),
    * "no source table", "no row image" (both images null) or "missing id".
    */
  def parseBatch(batch: DataFrame): (DataFrame, DataFrame) = split(classify(batch))

  /** Parse every record ONCE. Each row carries `valid` (true; false for an
    * invalid record; null for a tombstone, which neither split keeps),
    * `op` (I/U/D), `id`, the valid shape's image and binlog columns, the
    * raw `value` and `loop`, and an invalid record's `reason`. A record
    * that parses but has no row image or no id is invalid, so it reaches
    * the error/retry/DLQ sinks instead of vanishing (the reference logs
    * every failed record to data_err, main.go:143-147).
    */
  private def classify(batch: DataFrame): DataFrame = {
    val env = batch.withColumn("env", from_json(col("value"), Envelope.dmlEnvelopeSchema))
    val p = col("env.payload")
    val Seq(db, tbl, op, id, after, file, pos, row) = CdcPipeline.changeOf(p)
    // the analyzer trims the names off these nested uses
    val reason = Reasons.zip(Seq(p.isNull, tbl.isNull, op.isNull, id.isNull))
      .foldRight(lit(null).cast("string")) { case ((r, bad), rest) => when(bad, r).otherwise(rest) }
    val record = length(col("value")) > 0 // null or false for a tombstone
    env.select(
      when(record, reason.isNull).as("valid"), op, id, db, tbl, after, file, pos, row,
      col("value"), col("loop"), when(record, reason).as("reason"))
  }

  /** The (valid, invalid) frames of a classified batch: valid rows as
    * (db, tbl, op, id, after, file, pos, row), invalid ones as
    * (value, loop, reason).
    */
  private def split(classified: DataFrame): (DataFrame, DataFrame) = (
    classified.filter(col("valid"))
      .select("db", "tbl", "op", "id", "after", "file", "pos", "row"),
    classified.filter(!col("valid")).select("value", "loop", "reason"))

  /** What one micro-batch held and where its rows go: `sink` valid rows
    * for the sink (only the given table's), all `valid` rows with their
    * I/U/D split, `tombstones`, `invalid` records by reason, and the
    * `retry`/`dlq` shares of them (0 when the REPUBLISH gate is off).
    */
  final case class BatchCounts(sink: Long, valid: Long, tombstones: Long,
      inserts: Long, updates: Long, deletes: Long, invalid: Map[String, Long],
      retry: Long, dlq: Long) {

    /** The batch's machine-readable log line. */
    def json(batchId: Long, materializeMs: Long, sinkMs: Long, routeMs: Long): String = {
      val reasons = Reasons.map(r => s""""$r":${invalid(r)}""").mkString(",")
      s"""{"batch_id":$batchId,"valid":$valid,"tombstones":$tombstones,""" +
        s""""inserts":$inserts,"updates":$updates,"deletes":$deletes,"sink_rows":$sink,""" +
        s""""invalid":{$reasons},"retry":$retry,"dlq":$dlq,""" +
        s""""materialize_ms":$materializeMs,"sink_ms":$sinkMs,"route_ms":$routeMs}"""
    }
  }

  /** Every count of [[BatchCounts]] from one aggregate over `classified`. */
  private def countBatch(classified: DataFrame, table: Option[String],
      republishLimit: Int, republish: Boolean): BatchCounts = {
    val (valid, failed) = (col("valid"), !col("valid"))
    val next = col("loop") + 1
    val gates = Seq(
      "sink" -> table.fold(valid)(t => valid && col("tbl") === t),
      "valid" -> valid, "tombstones" -> valid.isNull,
      "I" -> (valid && col("op") === "I"), "U" -> (valid && col("op") === "U"),
      "D" -> (valid && col("op") === "D"),
      "retry" -> (failed && next < republishLimit), "dlq" -> (failed && next >= republishLimit)) ++
      Reasons.map(r => r -> (failed && col("reason") === r))
    val aggs = gates.map { case (k, c) => count_if(c).as(k) }
    val n = classified.agg(aggs.head, aggs.tail: _*).first().getValuesMap[Long](gates.map(_._1))
    BatchCounts(n("sink"), n("valid"), n("tombstones"), n("I"), n("U"), n("D"),
      Reasons.map(r => r -> n(r)).toMap,
      if (republish) n("retry") else 0L, if (republish) n("dlq") else 0L)
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
    val incoming = valid.select(Seq(col("db"), col("tbl"), col("id")) ++
      CdcPipeline.image(col("after")) ++ Seq(col("op"), col("file"), col("pos"), col("row")): _*)
    val root = Paths.get(statePath)
    val current = committedVersion(root) match {
      case Some(v) => spark.read.parquet(root.resolve(v).toString)
      case None    => incoming.limit(0)
    }
    commitVersion(CdcPipeline.latest(current.unionByName(incoming)), root)
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

  /** The writes that route a batch's invalid records (`parseBatch`'s
    * second frame), given its [[BatchCounts]]: the error-log row with the
    * record's reason (S4); then, when the REPUBLISH gate is on
    * (config/config.go:20, checked main.go:98,149), retry with loop+1
    * under the limit (ST2) and DLQ at the limit. With the gate off the
    * counts hold no retry or DLQ rows and the reference only error-logs —
    * no redelivery. A sink gets a write only when its count is non-zero,
    * and each write is one file (`coalesce(1)`). The caller runs them.
    */
  def routeFailures(invalid: DataFrame, counts: BatchCounts, paths: SinkPaths,
      republishLimit: Int): Seq[() => Unit] = {
    def append(rows: DataFrame, path: String): () => Unit =
      () => rows.coalesce(1).write.mode(SaveMode.Append).parquet(path)
    val next = col("loop") + 1
    val errs = invalid.select(
      col("value").as("data"), col("reason").as("error"),
      lit(null).cast("string").as("table_name"), lit(null).cast("string").as("db_name"),
      col("loop"))
    def redeliver(under: Boolean) =
      invalid.filter((next < republishLimit) === under).select(col("value"), next.as("loop"))
    Seq(
      counts.invalid.values.sum -> append(errs, paths.errors),
      counts.retry -> append(redeliver(under = true), paths.retry),
      counts.dlq -> append(redeliver(under = false), paths.dlq))
      .collect { case (n, write) if n > 0 => write }
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
        val parsed = batch.filter(length(col("value")) > 0)
          .withColumn("env", from_json(col("value"), Envelope.ddlEnvelopeSchema))
        val p = col("env.payload")
        val (db, ddl) = (p("databaseName"), p("ddl"))
        val decided = parsed.select(
          db.as("db"),
          ddl.as("ddl"),
          CdcPipeline.ddlDecision(p, tables, reclaim, replaceAll).as("decision"),
          CdcPipeline.stripDbQualifier(ddl, db).as("stripped"))
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

  /** The one micro-batch loop behind every DML consumer mode: each batch
    * goes through [[runBatch]].
    */
  private[streaming] def startBatches(source: DataFrame, paths: SinkPaths,
      republishLimit: Int, republish: Boolean, checkpoint: String,
      table: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(batch, batchId, paths, republishLimit, republish, table)(sink)
      }
      .start()

  /** One micro-batch: classify the raw records once into a cached frame,
    * take every gate and metric from one aggregate over it, then run the
    * sink (valid rows, only `table`'s when given) and the failure writes
    * of [[routeFailures]] side by side, each only when it has rows. Logs
    * one JSON line ([[BatchCounts.json]]) on `graft.streaming.batch` and
    * releases the cache.
    */
  private def runBatch(batch: DataFrame, batchId: Long, paths: SinkPaths,
      republishLimit: Int, republish: Boolean, table: Option[String])
      (sink: DataFrame => Unit): Unit = {
    val t0 = System.nanoTime()
    val classified = classify(batch).persist()
    try {
      val counts = countBatch(classified, table, republishLimit, republish)
      val materializeMs = (System.nanoTime() - t0) / 1000000
      val (valid, invalid) = split(classified)
      val rows = table.fold(valid)(t => valid.filter(col("tbl") === t))
      val sinkSide = if (counts.sink > 0) Seq(() => sink(rows)) else Nil
      val sides = sinkSide ++ routeFailures(invalid, counts, paths, republishLimit)
      val (sinkMs, routeMs) = runSides(batch.sparkSession, sides).splitAt(sinkSide.size)
      BatchLog.info(counts.json(batchId, materializeMs, sinkMs.sum, routeMs.maxOption.getOrElse(0L)))
    } finally classified.unpersist()
  }

  private val BatchLog = org.slf4j.LoggerFactory.getLogger("graft.streaming.batch")

  /** Threads that run a batch's other sides while the first runs on the
    * caller: the three failure writes.
    */
  private val SideThreads = 3
  private lazy val sidePool: ExecutorService =
    Executors.newFixedThreadPool(SideThreads, { (r: Runnable) =>
      val t = new Thread(r, "graft-batch-side")
      t.setDaemon(true)
      t
    })

  /** Run `sides` at the same time, the first on the calling thread and
    * the rest on the side pool, and return each one's milliseconds. A
    * pool side runs with the caller's local properties (job group, query
    * and execution ids), so stopping the query cancels its jobs too.
    * Every side ends before the first failure is rethrown.
    */
  private def runSides(spark: SparkSession, sides: Seq[() => Unit]): Seq[Long] = {
    def timed(side: () => Unit): Long = {
      val t0 = System.nanoTime()
      side()
      (System.nanoTime() - t0) / 1000000
    }
    val session = spark.asInstanceOf[classic.SparkSession]
    val pooled = sides.drop(1)
      .map(s => SQLExecution.withThreadLocalCaptured(session, sidePool)(timed(s)))
    def outcome(run: => Long): Either[Throwable, Long] =
      try Right(run) catch {
        case e: CompletionException if e.getCause != null => Left(e.getCause)
        case e: Throwable => Left(e)
      }
    // join waits without reacting to interrupts, so every side has ended
    val done = sides.take(1).map(s => outcome(timed(s))) ++ pooled.map(f => outcome(f.join()))
    done.collectFirst { case Left(e) => throw e }
    done.collect { case Right(ms) => ms }
  }

  /** Streaming variant of the S3 JDBC sink: every micro-batch's valid
    * changes applied as op-specific DML (JdbcSink), invalid records routed
    * to the error/retry/DLQ sinks. The reference's whole consumer loop
    * (main.go:63-169) in one writeStream.
    */
  def startJdbc(spark: SparkSession, source: DataFrame, url: String,
      table: String, paths: SinkPaths, republishLimit: Int = 3,
      checkpoint: String): StreamingQuery =
    startBatches(source, paths, republishLimit, republish = true,
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
    startBatches(source, paths, republishLimit, republish = true,
      checkpoint, Some(cdcTable))(JdbcSink.applyScd2(_, url, histTable))

  /** Wire a streaming source of (value, loop) records into the
    * parse/upsert/retry sinks via foreachBatch.
    */
  def start(spark: SparkSession, source: DataFrame, paths: SinkPaths,
      republishLimit: Int = 3, checkpoint: String): StreamingQuery =
    startBatches(source, paths, republishLimit, republish = true,
      checkpoint)(upsertBatch(spark, _, paths.state))
}
