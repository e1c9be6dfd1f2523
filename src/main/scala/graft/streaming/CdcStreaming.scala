package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{classic, DataFrame, Observation, SaveMode, SparkSession}
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
  * The state sink is a merge-on-read parquet commit log (the
  * Structured Streaming state-store layout, SIGMOD 2018): each
  * micro-batch commits only its own binlog-latest rows as a delta beside
  * a base, readers resolve latest-wins over base ∪ deltas, and compaction
  * folds the deltas into a new base every [[MaxDeltas]] commits. It is the
  * local-fs miniature of a lakehouse table format's merge-on-read upsert.
  * Micro-batch boundaries provide the pause-the-world DDL barrier (ST4) —
  * DDL rows would be applied on the driver between batches.
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

    /** The batch's machine-readable log line, with the state commit its
      * sink made, if any.
      */
    def json(batchId: Long, materializeMs: Long, sinkMs: Long, routeMs: Long,
        commit: Option[StateCommit]): String = {
      val reasons = Reasons.map(r => s""""$r":${invalid(r)}""").mkString(",")
      s"""{"batch_id":$batchId,"valid":$valid,"tombstones":$tombstones,""" +
        s""""inserts":$inserts,"updates":$updates,"deletes":$deletes,"sink_rows":$sink,""" +
        s""""invalid":{$reasons},"retry":$retry,"dlq":$dlq,""" +
        s""""materialize_ms":$materializeMs,"sink_ms":$sinkMs,"route_ms":$routeMs""" +
        commit.fold("")(c => s""","commit":${c.json}""") + "}"
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
  /** The materialized state is a merge-on-read commit log, the state-store
    * layout of Structured Streaming (SIGMOD 2018): a delta per committed
    * batch plus a periodically compacted base. `statePath/` holds immutable
    * version directories (v00000001, v00000002, …) and a `_CURRENT`
    * manifest naming one version per line: the base first (one row per
    * key), then its deltas, oldest first (each one batch's binlog-latest
    * row per key). A one-line manifest is a base with no deltas.
    *
    * Every change, a batch's delta or a compaction's new base, is a FRESH
    * version directory published by a single atomic rename of the
    * manifest, so a crash loses nothing. Killed before the rename, it
    * leaves an orphan directory that readers never see; the next commit
    * takes a number past it (never re-uses it) and garbage-collects it. A
    * crash during the rename is resolved by ATOMIC_MOVE: a reader sees the
    * old or the new manifest, never a torn one.
    */
  private val Manifest = "_CURRENT"
  private val VersionRe = "v(\\d{8})".r
  /** The key of a state row: latest-wins resolves per key. */
  private val StateKeys = Seq("db", "tbl", "id")

  /** Compaction folds the deltas into a new base once there are this many.
    *
    * Write amplification: a batch of `d` changed keys, `n` of them new,
    * writes a delta of `d` rows; every K batches the compaction rewrites
    * the state, `S + K·n` rows for a state of `S` keys. Amortized, that is
    * `1 + n/d + S/(K·d)` rows written per changed key. A 1000-event OLTP
    * batch changes about 700 keys, about 300 of them new, so at
    * S = 10⁵ keys K = 20 gives 1 + 0.43 + 7.1 ≈ 8.6 (at most 10 needs
    * K ≥ 17).
    *
    * Read: a read resolves latest-wins over every delta, so K bounds the
    * runs it lists and joins. Each costs a directory listing and a file
    * open, small beside the base scan.
    */
  private[streaming] val MaxDeltas = 20

  /** The committed base and deltas of `root`, oldest first, if any. */
  private def manifestOf(root: Path): Option[Seq[String]] = {
    val m = root.resolve(Manifest)
    if (Files.exists(m)) Some(Files.readAllLines(m).asScala.toSeq.map(_.trim).filter(_.nonEmpty))
    else None
  }

  private def listVersions(root: Path): Seq[String] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case v @ VersionRe(_) => v }.toSeq
      finally s.close()
    }

  /** Write `df` as the next version of `root` (max existing + 1, not
    * committed + 1: an orphan of a crashed commit must never be re-used
    * for fresh data). Returns the version and its rows, observed on the
    * write itself.
    */
  private def writeVersion(df: DataFrame, root: Path): (String, Long) = {
    val v = f"v${listVersions(root).map(_.drop(1).toInt).maxOption.getOrElse(0) + 1}%08d"
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.mode(SaveMode.ErrorIfExists).parquet(root.resolve(v).toString)
    (v, rows.get("rows").asInstanceOf[Long])
  }

  /** Atomically make `versions` the committed manifest of `root`, then
    * garbage-collect every version directory it does not name.
    */
  private def publish(root: Path, versions: Seq[String]): Unit = {
    val tmp = root.resolve(Manifest + ".tmp")
    Files.writeString(tmp, versions.mkString("", "\n", "\n"))
    Files.move(tmp, root.resolve(Manifest),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    listVersions(root).filterNot(versions.contains).foreach(v => deleteRec(root.resolve(v)))
  }

  /** Latest-wins over a manifest's base ∪ deltas by binlog coordinate,
    * tombstones kept. The delta keys are broadcast: base rows they do not
    * touch pass through unshuffled, and only the touched keys (their base
    * row and their delta rows) go through [[CdcPipeline.latest]].
    */
  private def resolve(spark: SparkSession, root: Path, versions: Seq[String]): DataFrame = {
    def read(vs: Seq[String]) = spark.read.parquet(vs.map(v => root.resolve(v).toString): _*)
    val base = read(versions.take(1))
    if (versions.size == 1) base
    else {
      val deltas = read(versions.drop(1))
      val keys = broadcast(deltas.select(StateKeys.map(k => col(k).as(s"delta_$k")): _*))
      val touched = StateKeys.map(k => base(k) <=> col(s"delta_$k")).reduce(_ && _)
      base.join(keys, touched, "left_anti").unionByName(
        CdcPipeline.latest(base.join(keys, touched, "left_semi").unionByName(deltas)))
    }
  }

  /** What one state commit did: the manifest it left (`base` version and
    * `deltas` count), the rows of the run it wrote (`deltaRows`; the first
    * commit's run is the base), the rows of the new base when it compacted,
    * and its milliseconds.
    */
  final case class StateCommit(base: String, deltas: Int, deltaRows: Long,
      compactedRows: Option[Long], commitMs: Long) {
    def json: String =
      s"""{"base":"$base","deltas":$deltas,"delta_rows":$deltaRows,""" +
        s""""compacted":${compactedRows.isDefined},"compacted_rows":${compactedRows.getOrElse(0L)},""" +
        s""""commit_ms":$commitMs}"""
  }

  /** Idempotent keyed upsert: write the batch's binlog-latest row per
    * (db, tbl, id) alone, as a delta (the base, on an empty path), and
    * publish it; the commit never reads the state. Re-applying the same
    * batch is a no-op (exactly-once effect): its rows carry the same
    * coordinates, and latest-wins keeps one of each. Once there are
    * [[MaxDeltas]] deltas, the same commit compacts them into a new base.
    */
  def upsertBatch(spark: SparkSession, valid: DataFrame, statePath: String): StateCommit = {
    val t0 = System.nanoTime()
    val incoming = valid.select(Seq(col("db"), col("tbl"), col("id")) ++
      CdcPipeline.image(col("after")) ++ Seq(col("op"), col("file"), col("pos"), col("row")): _*)
    val root = Paths.get(statePath)
    Files.createDirectories(root)
    val (delta, deltaRows) = writeVersion(CdcPipeline.latest(incoming), root)
    val committed = manifestOf(root).fold(Seq(delta))(_ :+ delta)
    publish(root, committed)
    val (base, deltas, compactedRows) =
      if (committed.size <= MaxDeltas) (committed.head, committed.size - 1, None)
      else {
        val (base, rows) = writeVersion(resolve(spark, root, committed), root)
        publish(root, Seq(base))
        (base, 0, Some(rows))
      }
    StateCommit(base, deltas, deltaRows, compactedRows, (System.nanoTime() - t0) / 1000000)
  }

  /** Live rows of the materialized state: latest-wins over the base and
    * its deltas. Delete tombstones stay in the state for ordering
    * correctness (a late-arriving older update must not resurrect a
    * deleted key) and are dropped on read.
    */
  def currentState(spark: SparkSession, statePath: String): DataFrame = {
    val root = Paths.get(statePath)
    val versions = manifestOf(root).getOrElse(
      throw new IllegalStateException(s"no committed state at $statePath"))
    resolve(spark, root, versions).filter(col("op") =!= "D")
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
    * goes through [[runBatch]]. The sink returns the state commit it made,
    * if it keeps the parquet state.
    */
  private[streaming] def startBatches(source: DataFrame, paths: SinkPaths,
      republishLimit: Int, republish: Boolean, checkpoint: String,
      table: Option[String] = None)
      (sink: DataFrame => Option[StateCommit]): StreamingQuery =
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
    * one JSON line ([[BatchCounts.json]], with the sink's state commit) on
    * `graft.streaming.batch` and releases the cache.
    */
  private def runBatch(batch: DataFrame, batchId: Long, paths: SinkPaths,
      republishLimit: Int, republish: Boolean, table: Option[String])
      (sink: DataFrame => Option[StateCommit]): Unit = {
    val t0 = System.nanoTime()
    val classified = classify(batch).persist()
    try {
      val counts = countBatch(classified, table, republishLimit, republish)
      val materializeMs = (System.nanoTime() - t0) / 1000000
      val (valid, invalid) = split(classified)
      val rows = table.fold(valid)(t => valid.filter(col("tbl") === t))
      var commit = Option.empty[StateCommit] // the sink side runs on this thread
      val sinkSide = if (counts.sink > 0) Seq(() => commit = sink(rows)) else Nil
      val sides = sinkSide ++ routeFailures(invalid, counts, paths, republishLimit)
      val (sinkMs, routeMs) = runSides(batch.sparkSession, sides).splitAt(sinkSide.size)
      BatchLog.info(counts.json(batchId, materializeMs, sinkMs.sum,
        routeMs.maxOption.getOrElse(0L), commit))
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
      checkpoint, Some(table)) { rows => JdbcSink.applyChanges(rows, url, table); None }

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
      checkpoint, Some(cdcTable)) { rows => JdbcSink.applyScd2(rows, url, histTable); None }

  /** Wire a streaming source of (value, loop) records into the
    * parse/upsert/retry sinks via foreachBatch.
    */
  def start(spark: SparkSession, source: DataFrame, paths: SinkPaths,
      republishLimit: Int = 3, checkpoint: String): StreamingQuery =
    startBatches(source, paths, republishLimit, republish = true,
      checkpoint)(rows => Some(upsertBatch(spark, rows, paths.state)))
}
