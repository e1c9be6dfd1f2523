package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR --data DIR --out FILE`.
  * Writes the run's report (metrics, checks, counts) as JSON to FILE.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    require(seconds >= 1 && cores >= 1, s"bad --seconds $seconds or --cores $cores")
    Files.createDirectories(work)

    val (spark, sessionS) = Stats.timed(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val report = new Report
    val trace = if (traced) Some(new Trace(spark)) else None
    try workload match {
      case "cdc_large_state" =>
        Cdc.run(spark, Cdc.LargeState, seed, seconds, work, trace, report, sessionS)
      case "cdc_dirty_jdbc" =>
        Cdc.run(spark, Cdc.DirtyJdbc, seed, seconds, work, trace, report, sessionS)
      case "query_mix" =>
        QueryMix.run(spark, opt("data"), seconds, work, trace, report, sessionS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        report.check("workload ran to the end", ok = false, e.toString)
        e.printStackTrace()
    } finally {
      report.metric("storage.retained_mb", spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6, "MB")
      report.write(Paths.get(opt("out")))
      trace.foreach(_.writeSpans(work.resolve("spans.json")))
      spark.stop()
    }
  }
}
