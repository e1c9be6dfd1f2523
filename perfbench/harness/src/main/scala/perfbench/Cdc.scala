package perfbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.GraftConfig
import graft.sources.{CdcSources, KafkaShapedSource}
import graft.streaming.{CdcStreaming, Consumer}

/** The two consumer workloads. Both are a closed loop: the whole backlog
  * is in the fixture before the query starts and the consumer drains it
  * at its own pace, `EventsPerBatch` records per trigger.
  *
  *  - `cdc_large_state`: `Consumer.start` (parquet state) over
  *    `seedKeys` keys of existing state and a clean OLTP replay;
  *  - `cdc_dirty_jdbc`: `CdcStreaming.startJdbc` into embedded Derby over
  *    a small seeded table and a replay with planted failures.
  */
object Cdc {

  /** A consumer workload: the keys seeded before timing, the share of
    * planted failures, and the sink (parquet state or JDBC).
    */
  final case class Workload(seedKeys: Long, dirtyFraction: Double, jdbc: Boolean)

  val LargeState = Workload(seedKeys = 100000L, dirtyFraction = 0.0, jdbc = false)
  val DirtyJdbc = Workload(seedKeys = 5000L, dirtyFraction = 0.08, jdbc = true)

  /** Records per trigger. The test source re-reads the whole fixture for
    * every batch. At 2000 records per trigger on the large-state workload
    * (4 cores), that re-read, paid in the parse span, took 3.1 s per batch
    * and the merge 1.65 s, so the merge no longer had the largest self time.
    */
  private val EventsPerBatch = 1000
  /** The replay is fixed work, timed batches per second of `--seconds`
    * (5 batches at the committed 4 s), so every run of a seed drains the
    * same records.
    */
  private val BatchesPerSecond = 1.25
  /** The first batches of the query warm the JVM and Spark up; they are
    * set-up, not measured.
    */
  private val WarmBatches = 3
  private val RepublishLimit = 3

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Int, work: Path,
      trace: Option[Trace], report: Report, sessionSeconds: Double): Unit = {
    import spark.implicits._
    val base = work.toString
    val paths = CdcStreaming.SinkPaths(s"$base/state", s"$base/errors", s"$base/retry", s"$base/dlq")
    val url = s"jdbc:derby:$base/derby/target;create=true"
    val cfg = GraftConfig.fromEnv(Map("SERVER" -> EventGen.Server, "DBNAME" -> EventGen.Db,
      "TABLE" -> EventGen.Table, "REPUBLISH_LIMIT" -> RepublishLimit.toString))
    val batches = math.max(3, math.round(seconds * BatchesPerSecond).toInt)
    val warmEvents = WarmBatches * EventsPerBatch
    val timedEvents = batches * EventsPerBatch

    // ------------------------------------------------------------ setup
    val setupStartMs = System.currentTimeMillis()
    val (replay, genS) = Stats.timed(EventGen.replay(seed, EventGen.Params(
      seedKeys = w.seedKeys, events = warmEvents + timedEvents, dirtyFraction = w.dirtyFraction)))
    val seedFrame = spark.range(0L, w.seedKeys, 1L, spark.sparkContext.defaultParallelism)
      .map(id => EventGen.seedEnvelope(seed, id)).toDF("value").withColumn("loop", lit(0))
    val (_, seedS) = Stats.timed {
      if (w.jdbc) seedTable(url, seed, w.seedKeys)
      else CdcStreaming.upsertBatch(spark, CdcStreaming.parseBatch(seedFrame)._1, paths.state)
    }
    val fixture = s"$base/replay.log"
    KafkaShapedSource.writeFixture(fixture, replay.lines.toSeq)
    val source = CdcSources.fromKafkaFrame(CdcSources.kafkaShapedStream(
      spark, fixture, EventGen.Topic, maxOffsetsPerTrigger = Some(EventsPerBatch.toLong)))

    // ------------------------------------------ warm-up batches, then timed
    // One query drains the whole backlog; its first `WarmBatches` batches
    // are set-up. The tracer runs throughout and counts from the first
    // timed batch on.
    trace.foreach(_.start(() =>
      Trace.threads().find(_.getName.startsWith("stream execution thread for"))))
    val q =
      try {
        val q =
          if (w.jdbc) CdcStreaming.startJdbc(spark, source, url, EventGen.Table, paths,
            RepublishLimit, checkpoint = s"$base/checkpoint")
          else Consumer.start(spark, cfg, source, paths, checkpoint = s"$base/checkpoint")
        try q.processAllAvailable() finally q.stop()
        q
      } catch {
        case e: Throwable =>
          report.failed += 1
          report.check("replay completes", ok = false, e.toString)
          throw e
      } finally trace.foreach(_.stop())
    def endOf(p: StreamingQueryProgress) =
      Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue
    val all = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    val (warm, progress) = all.splitAt(WarmBatches)
    val warmEndMs = endOf(warm.last)
    val drainS = (endOf(progress.last) - warmEndMs) / 1000.0
    val batchMs = progress.map(_.durationMs.get("triggerExecution").toDouble)
    report.notes("setup_parts_s") = f"session=$sessionSeconds%.3f gen=$genS%.3f seed=$seedS%.3f " +
      f"warm=${(warmEndMs - setupStartMs) / 1000.0 - genS - seedS}%.3f"
    report.notes("batch_ms") = all.map(_.durationMs.get("triggerExecution").toLong).mkString(",")
    report.attempted = progress.size.toLong
    report.metric("events_per_s", timedEvents / drainS, "1/s", progress.size)
    report.metric("batch_ms_p50", Stats.median(batchMs), "ms", batchMs.size)
    report.metric("setup_s", (warmEndMs - setupStartMs) / 1000.0 + sessionSeconds, "s")

    // ------------------------------------------------ output checks
    val admitted = all.map(_.numInputRows).sum
    report.check("every record admitted once", admitted == warmEvents + timedEvents,
      s"admitted $admitted of ${warmEvents + timedEvents}")
    report.check(s"$WarmBatches warm-up and $batches timed batches of $EventsPerBatch records",
      warm.size == WarmBatches && progress.size == batches &&
        all.forall(_.numInputRows == EventsPerBatch),
      all.map(_.numInputRows).mkString(","))
    val sinks = sinkCounts(spark, paths)
    report.check("error sink = planted invalid", sinks.errors == replay.invalid,
      s"errors ${sinks.errors}, planted ${replay.invalid}")
    report.check("retry sink = planted retries", sinks.retry == replay.retry,
      s"retry ${sinks.retry}, planted ${replay.retry}")
    report.check("dlq sink = planted dead letters", sinks.dlq == replay.dlq,
      s"dlq ${sinks.dlq}, planted ${replay.dlq}")
    report.check("no tombstone reaches a sink", sinks.empties == 0,
      s"${sinks.empties} empty records in the failure sinks")
    report.check("retry and dlq carry loop + 1", sinks.badLoops == 0,
      s"${sinks.badLoops} rows with a wrong loop count")
    if (w.jdbc) checkTable(url, w, seed, replay, report)
    else checkState(spark, paths.state, w, seed, replay, report)

    // ------------------------------------------------ per-layer metrics
    trace.foreach { t =>
      t.countFrom(Instant.parse(progress.head.timestamp).toEpochMilli)
      layerMetrics(spark, t, w, report, progress, drainS, timedEvents, replay,
        (warmEvents, warmEvents + timedEvents), sinks, all.size, paths.state, url)
    }
  }

  // ------------------------------------------------------------ checks
  /** The target table the JDBC sink maintains, holding the seeded keys
    * (one batched insert: the table is the sink's starting point, not
    * part of what is measured).
    */
  private def seedTable(url: String, seed: Long, keys: Long): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate(s"CREATE TABLE ${EventGen.Table} " +
        "(id BIGINT PRIMARY KEY, name VARCHAR(64), amount BIGINT)")
      finally st.close()
      c.setAutoCommit(false)
      val ins = c.prepareStatement(s"INSERT INTO ${EventGen.Table} (id, name, amount) VALUES (?, ?, ?)")
      try (0L until keys).foreach { id =>
        val i = EventGen.seedImage(seed, id)
        ins.setLong(1, id); ins.setString(2, i.name); ins.setLong(3, i.amount)
        ins.addBatch()
      } finally { ins.executeBatch(); ins.close() }
      c.commit()
    } finally c.close()
  }

  final case class Sinks(errors: Long, retry: Long, dlq: Long, empties: Long, badLoops: Long)

  private def sinkCounts(spark: SparkSession, p: CdcStreaming.SinkPaths): Sinks = {
    def read(path: String): Option[DataFrame] =
      if (Files.isDirectory(java.nio.file.Paths.get(path))) Some(spark.read.parquet(path)) else None
    def rows(path: String) = read(path).map(_.count()).getOrElse(0L)
    def empties(path: String, c: String) = read(path)
      .map(_.filter(col(c).isNull || length(col(c)) === 0).count()).getOrElse(0L)
    val badRetry = read(p.retry).map(_.filter(!col("loop").isin(1, 2)).count()).getOrElse(0L)
    val badDlq = read(p.dlq).map(_.filter(col("loop") =!= RepublishLimit).count()).getOrElse(0L)
    Sinks(rows(p.errors), rows(p.retry), rows(p.dlq),
      empties(p.errors, "data") + empties(p.retry, "value") + empties(p.dlq, "value"),
      badRetry + badDlq)
  }

  private def expectedTouched(replay: EventGen.Replay): Seq[(Long, String, Long)] =
    replay.finalImages.toSeq.collect { case (id, Some(i)) => (id, i.name, i.amount) }

  /** The parquet state must hold exactly the generator's live keys with
    * their last (name, amount). Compared by an order-free fingerprint.
    */
  private def checkState(spark: SparkSession, state: String, w: Workload, seed: Long,
      replay: EventGen.Replay, report: Report): Unit = {
    import spark.implicits._
    val touched = replay.finalImages.keys.toSeq.toDF("id")
    val untouched = spark.range(0L, w.seedKeys).join(touched, Seq("id"), "left_anti")
      .as[Long].map { id => val i = EventGen.seedImage(seed, id); (id, i.name, i.amount) }
      .toDF("id", "name", "amount")
    val expected = untouched.unionByName(expectedTouched(replay).toDF("id", "name", "amount"))
    val got = CdcStreaming.currentState(spark, state).select("id", "name", "amount")
    def fp(df: DataFrame) = df.agg(count(lit(1)), sum("amount"),
      bit_xor(xxhash64(col("id"), col("name"), col("amount")))).first()
    val (g, e) = (fp(got), fp(expected))
    report.check("state = expected (id, name, amount) for every live key", g == e,
      s"got $g, expected $e; first differences: " +
        got.exceptAll(expected).limit(3).collect().mkString(" ") + " | " +
        expected.exceptAll(got).limit(3).collect().mkString(" "))
  }

  /** The Derby table must hold exactly the generator's live keys. */
  private def checkTable(url: String, w: Workload, seed: Long, replay: EventGen.Replay,
      report: Report): Unit = {
    val got = scala.collection.mutable.HashMap.empty[Long, (String, Long)]
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT id, name, amount FROM ${EventGen.Table}")
      while (rs.next()) got(rs.getLong(1)) = (rs.getString(2), rs.getLong(3))
    } finally c.close()
    val expected = (0L until w.seedKeys).filterNot(replay.finalImages.contains)
      .map { id => val i = EventGen.seedImage(seed, id); id -> (i.name, i.amount) }.toMap ++
      expectedTouched(replay).map { case (id, n, a) => id -> (n, a) }
    val diff = (got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k))
    report.check("Derby table = expected (id, name, amount) for every live key", diff.isEmpty,
      s"${diff.size} keys differ, e.g. " + diff.take(3).map(k =>
        s"$k: got ${got.get(k)} expected ${expected.get(k)}").mkString("; "))
  }

  // ------------------------------------------------------------ layers
  private def layerMetrics(spark: SparkSession, t: Trace, w: Workload, report: Report,
      progress: Seq[StreamingQueryProgress], drainS: Double, timedEvents: Int,
      replay: EventGen.Replay, timedRange: (Int, Int), sinks: Sinks, allBatches: Int,
      state: String, url: String): Unit = {
    val n = progress.size.toDouble
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble)
      .getOrElse(0.0)).sum / n
    def perBatch(name: String, v: Double, unit: String) = report.metric(name, v / n, unit, progress.size)
    val windows = progress.map { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli
      (s, s + p.durationMs.get("triggerExecution").longValue)
    }
    // driver self time per layer inside the timed batches
    val perBatchSelf = windows.map { case (s, e) => t.driverMs(s, e) }
    val self = perBatchSelf.flatten.groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0.0)
    // spans: the trigger, its engine phases, and the sampled layer calls
    // inside addBatch (innermost layer per sample, so their time is self)
    progress.zip(windows).zip(perBatchSelf).foreach { case ((p, (s, e)), layerMs) =>
      val id = s"batch-${p.batchId}"
      val phases = Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
        .map(k => k -> Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))
      val layers = layerMs.toSeq.filter(_._1 != "engine").map { case (l, ms) =>
        t.Span(id, l, if (l == "sources") "batch" else "addBatch", s, e, ms)
      }
      val addBatchSelf = phases.toMap.apply("addBatch") -
        layers.filter(_.parent == "addBatch").map(_.selfMs).sum
      t.spans += t.Span(id, "batch", "", s, e, (e - s) - phases.map(_._2).sum.toDouble)
      phases.foreach { case (k, ms) =>
        t.spans += t.Span(id, k, "batch", s, s + ms, if (k == "addBatch") addBatchSelf else ms.toDouble)
      }
      t.spans ++= layers
    }
    val (from, until) = timedRange
    val kinds = replay.kinds.slice(from, until)

    report.metric("sources.latest_offset_ms", dur("latestOffset"), "ms", progress.size)
    report.metric("sources.get_batch_ms", dur("getBatch"), "ms", progress.size)
    perBatch("sources.read_ms", t.taskMs("sources"), "ms")
    perBatch("sources.rows_per_batch", progress.map(_.numInputRows.toDouble).sum, "count")
    report.metric("engine.query_planning_ms", dur("queryPlanning"), "ms", progress.size)
    report.metric("engine.wal_commit_ms", dur("walCommit"), "ms", progress.size)
    report.metric("engine.commit_offsets_ms", dur("commitOffsets"), "ms", progress.size)
    report.metric("engine.add_batch_ms", dur("addBatch"), "ms", progress.size)
    perBatch("engine.self_ms", self("engine"), "ms")
    // the wiring's own time outside sink calls is the parse and the
    // emptiness probes that evaluate it
    perBatch("parse.ms", self("parse") + self("batch"), "ms")
    perBatch("parse.task_ms", t.taskMs("parse"), "ms")
    perBatch("parse.rows_in", kinds.length.toDouble, "count")
    perBatch("parse.valid", kinds.count(_ == EventGen.Kind.Valid).toDouble, "count")
    perBatch("parse.tombstones", kinds.count(_ == EventGen.Kind.Tombstone).toDouble, "count")
    perBatch("parse.invalid", kinds.count(k => k != EventGen.Kind.Valid &&
      k != EventGen.Kind.Tombstone).toDouble, "count")
    val m = t.workOf("merge")
    perBatch("merge.ms", self("merge"), "ms")
    perBatch("merge.jobs", m.jobs.toDouble, "count")
    perBatch("merge.stages", m.stages.toDouble, "count")
    perBatch("merge.task_ms", m.taskMs.toDouble, "ms")
    perBatch("merge.shuffle_bytes", m.shuffleBytes.toDouble, "bytes")
    perBatch("merge.rows_read", m.recordsRead.toDouble, "count")
    perBatch("merge.rows_written", m.recordsWritten.toDouble, "count")
    perBatch("merge.bytes_written", m.bytesWritten.toDouble, "bytes")
    val changedKeys = (from until until by EventsPerBatch)
      .map(b => replay.distinctKeys(b, b + EventsPerBatch)).sum
    report.metric("merge.write_amplification",
      if (w.jdbc) 0.0 else m.recordsWritten.toDouble / changedKeys, "ratio", progress.size)
    val r = t.workOf("route")
    perBatch("route.ms", self("route"), "ms")
    perBatch("route.jobs", r.jobs.toDouble, "count")
    // sink rows per batch, over every batch of the query
    report.metric("route.rows_error", sinks.errors.toDouble / allBatches, "count", allBatches)
    report.metric("route.rows_retry", sinks.retry.toDouble / allBatches, "count", allBatches)
    report.metric("route.rows_dlq", sinks.dlq.toDouble / allBatches, "count", allBatches)
    val j = t.workOf("jdbc")
    perBatch("jdbc.ms", self("jdbc"), "ms")
    perBatch("jdbc.task_ms", j.taskMs.toDouble, "ms")
    perBatch("jdbc.rows", j.shuffleReadRecords.toDouble, "count")
    val all = t.labels.map(t.workOf)
    perBatch("batch.jobs", all.map(_.jobs).sum.toDouble, "count")
    perBatch("batch.stages", all.map(_.stages).sum.toDouble, "count")
    report.metric("trace.events_per_s", timedEvents / drainS, "1/s", progress.size)

    // state size and the columns the sink does not carry
    if (w.jdbc) {
      val c = DriverManager.getConnection(url)
      val cols = try {
        val rs = c.getMetaData.getColumns(null, null, EventGen.Table.toUpperCase, null)
        Iterator.continually(rs).takeWhile(_.next()).map(_.getString("COLUMN_NAME").toLowerCase).toSet
      } finally c.close()
      report.metric("sink.columns_dropped", EventGen.ImageColumns.count(!cols.contains(_)).toDouble, "count")
      Seq("state.rows" -> "count", "state.files" -> "count", "state.bytes_on_disk" -> "bytes",
        "state.scan_s" -> "s").foreach { case (k, u) => report.metric(k, 0.0, u) }
    } else {
      val live = CdcStreaming.currentState(spark, state)
      // the read side of the state layer: currentState plus one full
      // aggregate over every column it holds. The reader's code paths warm
      // up first; a sample is the mean of 3 scans.
      def scan(): Unit = {
        val df = CdcStreaming.currentState(spark, state)
        df.agg(count(lit(1)), sum("amount"), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)))
          .collect()
      }
      (1 to 3).foreach(_ => scan())
      val scans = (1 to 5).map(_ => Stats.timed((1 to 3).foreach(_ => scan()))._2 / 3)
      report.metric("state.scan_s", Stats.median(scans), "s", scans.size)
      report.metric("sink.columns_dropped",
        EventGen.ImageColumns.count(c => !live.columns.contains(c)).toDouble, "count")
      report.metric("state.rows", live.count().toDouble, "count")
      val files = Files.walk(java.nio.file.Paths.get(state)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      report.metric("state.files", files.size.toDouble, "count")
      report.metric("state.bytes_on_disk", files.map(Files.size(_).toDouble).sum, "bytes")
    }
  }
}
