package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Batch query mix: passes over a fixed set of `SparkEntry.queries` keys,
  * timing construction (with its eager actions) plus a `noop` write.
  * The first two passes are untimed set-up. The first writes every
  * result as parquet, and `run.py` checks those against the DuckDB oracles
  * (`SparkEntry.oracleSql`) before the result line is printed. The inputs
  * are the fixed sf0.01 tables, so `--seed` changes nothing here.
  */
object QueryMix {

  /** ROADMAP target keys (reported per key when traced): heavy,
    * multi-action queries ...
    */
  val Targets: Seq[String] = Seq("g02_triangle_census", "s05_kmeans_step")

  /** ... and short keys where fixed per-query overhead dominates. */
  val Short: Seq[String] = Seq("t05_cleantext", "s01_cosine_topk")

  val Keys: Seq[String] = Targets ++ Short

  /** Timed passes per second of `--seconds`. A warm pass over `Keys` took
    * 3–5 s on the 4-core host of the baseline, and pass times still fall
    * for ten passes while the JIT warms up. Across ten runs, the median of
    * 3 passes spread by 20% (quartile distance / median), of 4 by 16%.
    */
  private val PassesPerSecond = 1

  private final case class KeyRun(key: String, pass: Int, startMs: Long, constructMs: Double,
      actionMs: Double) {
    def wallMs: Double = constructMs + actionMs
  }

  def run(spark: SparkSession, dataDir: String, seconds: Int, work: Path,
      trace: Option[Trace], report: Report, sessionSeconds: Double): Unit = {
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val out = work.resolve("qout")
    Files.createDirectories(out)

    // ------------------------------------------------------------ setup
    val setupT0 = System.nanoTime()
    Keys.foreach { k =>
      try queries(k)(spark, dataDir).write.mode("overwrite").parquet(out.resolve(k).toString)
      catch { case e: Throwable => report.check(s"$k runs", ok = false, e.toString) }
    }
    val oracleJson = Keys.map { k =>
      Report.quote(k) + ": " + Report.quote(oracles.getOrElse(k, ""))
    }.mkString("{", ",\n", "}")
    Files.write(out.resolve("oracle_sql.json"), oracleJson.getBytes(StandardCharsets.UTF_8))
    // one more untimed pass: after the first, each pass still runs faster
    // than the one before while the JIT warms up
    Keys.foreach { k =>
      try queries(k)(spark, dataDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => report.check(s"$k warm-up pass runs", ok = false, e.toString) }
    }
    val setupS = Stats.secondsSince(setupT0) + sessionSeconds

    // ------------------------------------------------------------ timed
    trace.foreach(_.start(() => None))
    val runs = scala.collection.mutable.ArrayBuffer.empty[KeyRun]
    val passSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    // fixed work: `PassesPerSecond` timed passes per second of --seconds,
    // at least two, so every run times the same key runs
    val passes = math.max(2, seconds * PassesPerSecond)
    // the keys run in a fixed order: in an order shuffled per run, a
    // key's time varied with the key before it
    (0 until passes).foreach { pass =>
      val passT0 = System.nanoTime()
      Keys.foreach { k =>
        report.attempted += 1
        try {
          val startMs = System.currentTimeMillis()
          sc.setLocalProperty(Trace.SpanProperty, s"$k/construct")
          val (df, c) = Stats.timed(queries(k)(spark, dataDir))
          sc.setLocalProperty(Trace.SpanProperty, s"$k/action")
          val (_, a) = Stats.timed(df.write.mode("overwrite").format("noop").save())
          runs += KeyRun(k, pass, startMs, c * 1000, a * 1000)
        } catch {
          case e: Throwable =>
            report.failed += 1
            report.check(s"$k pass $pass runs", ok = false, e.toString)
        } finally sc.setLocalProperty(Trace.SpanProperty, null)
      }
      passSeconds += Stats.secondsSince(passT0)
    }
    trace.foreach(_.stop())
    report.check("every key ran in every pass", runs.size == Keys.size * passes,
      s"${runs.size} of ${Keys.size * passes}")

    // a key's wall time is its median across passes; the keys differ by
    // up to 10x, so the median key is taken over those per-key medians
    val keyMs = Keys.map(k => k -> Stats.median(runs.filter(_.key == k).map(_.wallMs).toSeq))
    report.notes("passes_s") = passSeconds.map(s => f"$s%.3f").mkString(",")
    report.notes("key_ms") = keyMs.map { case (k, ms) => f"$k=$ms%.0f" }.mkString(" ")
    report.metric("events_per_s", Keys.size / Stats.median(passSeconds.toSeq), "1/s", passes)
    report.metric("batch_ms_p50", Stats.median(keyMs.map(_._2)), "ms", keyMs.size)
    report.metric("setup_s", setupS, "s")

    trace.foreach { t =>
      def sumOf(suffix: String) = {
        val ws = t.labels.filter(_.endsWith(suffix)).map(t.workOf)
        (f: Work => Long) => ws.map(f).sum.toDouble / passes
      }
      val construct = sumOf("/construct")
      val any = sumOf("")
      report.metric("query.construct_ms", runs.map(_.constructMs).sum / passes, "ms", passes)
      report.metric("query.construct_jobs", construct(_.jobs), "count", passes)
      report.metric("query.action_ms", runs.map(_.actionMs).sum / passes, "ms", passes)
      report.metric("query.jobs", any(_.jobs), "count", passes)
      report.metric("query.stages", any(_.stages), "count", passes)
      report.metric("query.tasks", any(_.tasks), "count", passes)
      report.metric("query.task_ms", any(_.taskMs), "ms", passes)
      report.metric("query.shuffle_read_bytes", any(_.shuffleReadBytes), "bytes", passes)
      report.metric("query.shuffle_write_bytes", any(_.shuffleWriteBytes), "bytes", passes)
      report.metric("query.spill_bytes", any(_.spillBytes), "bytes", passes)
      report.metric("query.retained_blocks",
        sc.getRDDStorageInfo.map(_.numCachedPartitions.toDouble).sum, "count")
      Targets.foreach { k =>
        val ws = Seq(s"$k/construct", s"$k/action").filter(t.labels.contains).map(t.workOf)
        def per(f: Work => Long) = ws.map(f).sum.toDouble / passes
        report.metric(s"$k.wall_ms", keyMs.toMap.apply(k), "ms", passes)
        report.metric(s"$k.jobs", per(_.jobs), "count", passes)
        report.metric(s"$k.stages", per(_.stages), "count", passes)
        report.metric(s"$k.task_ms", per(_.taskMs), "ms", passes)
        report.metric(s"$k.shuffle_bytes", per(_.shuffleBytes), "bytes", passes)
      }
      report.metric("trace.events_per_s", Keys.size / Stats.median(passSeconds.toSeq), "1/s", passes)
      runs.foreach { r =>
        val id = s"pass-${r.pass}/${r.key}"
        val mid = r.startMs + r.constructMs.toLong
        t.spans += t.Span(id, "query", "", r.startMs, mid + r.actionMs.toLong, 0.0)
        t.spans += t.Span(id, "construct", "query", r.startMs, mid, r.constructMs)
        t.spans += t.Span(id, "action", "query", mid, mid + r.actionMs.toLong, r.actionMs)
      }
    }
  }
}
