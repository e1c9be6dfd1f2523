package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters of the Spark work attributed to one span label. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadRecords += o.shuffleReadRecords; spillBytes += o.spillBytes
    recordsRead += o.recordsRead; recordsWritten += o.recordsWritten
    bytesWritten += o.bytesWritten
  }
}

/** The benchmark's span and counter collector. Nothing in the program is
  * changed; work is attributed from the outside:
  *
  *  - a sampler reads the stack of the driver thread that makes the calls
  *    every `DriverEveryMs` and keeps the innermost layer function on it:
  *    `JdbcSink.applyChanges` → jdbc, `CdcStreaming.upsertBatch` → merge,
  *    `routeFailures` → route, `parseBatch` → parse, `KafkaShaped*` →
  *    sources, the consumer's foreachBatch closure → batch, else engine.
  *    Counting samples gives each layer's self time;
  *  - a job is labelled by the `perfbench.span` local property when the
  *    benchmark made the call itself (query_mix), else by the layer the
  *    driver thread was in while the job ran (the caller blocks inside the
  *    layer function until its job ends);
  *  - the executor task threads are sampled every `TaskEveryMs` for task
  *    time spent in the source reader and in JSON parsing.
  *
  * Everything stays in memory until the run ends.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace.{DriverEveryMs, TaskEveryMs}

  private final class Job(val startMs: Long, val explicit: Option[String]) {
    var endMs: Long = Long.MaxValue
    val work = new Work
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private var work = Map.empty[String, Work]

  /** Work per label; complete once [[stop]] has returned. */
  def workOf(label: String): Work = work.getOrElse(label, new Work)
  def labels: Seq[String] = work.keys.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.time, Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty))))
    j.work.jobs = 1
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.work.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val w = j.work
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.recordsRead += m.inputMetrics.recordsRead
      w.recordsWritten += m.outputMetrics.recordsWritten
      w.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** The layer the driver thread was in while a job ran. */
  private def layerDuring(j: Job): String = {
    val during = driverSamples.filter { case (ms, _) => ms >= j.startMs && ms <= j.endMs }
    if (during.nonEmpty) during.groupBy(_._2).maxBy(_._2.size)._1
    else driverSamples.filter(_._1 <= j.startMs).lastOption.map(_._2).getOrElse("engine")
  }

  /** Jobs and task samples before this epoch ms are not counted. */
  private var fromMs = 0L

  /** Count only the work from epoch ms `ms` on, e.g. after warm-up batches. */
  def countFrom(ms: Long): Unit = synchronized { fromMs = ms; resolve() }

  private def resolve(): Unit = synchronized {
    work = jobs.values.toSeq.filter(_.startMs >= fromMs)
      .groupBy(j => j.explicit.getOrElse(layerDuring(j))).map {
      case (l, js) =>
        val w = new Work
        js.map(_.work).foreach(w.add)
        l -> w
    }
  }

  // ------------------------------------------------------------ spans
  /** One span: `trace` groups the spans of one batch or key run. */
  final case class Span(trace: String, name: String, parent: String, startMs: Long,
      endMs: Long, selfMs: Double)

  val spans = mutable.ArrayBuffer.empty[Span]

  /** Write every span as a JSON array, once the run has ended. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val q = Report.quote _
    val body = spans.map(s => s"""{"trace": ${q(s.trace)}, "name": ${q(s.name)}, """ +
      s""""parent": ${q(s.parent)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
      s""""self_ms": ${s.selfMs}}""").mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(path, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------ sampler
  /** Driver samples: (epoch ms, innermost layer). */
  val driverSamples = mutable.ArrayBuffer.empty[(Long, String)]
  /** Executor task-thread samples in the source reader and the JSON
    * parser: (epoch ms, layer).
    */
  private val taskSamples = mutable.ArrayBuffer.empty[(Long, String)]

  @volatile private var running = false
  private var sampler: Thread = _

  /** Driver time per layer over samples taken in [from, until]: each
    * sample stands for the time until the next one.
    */
  def driverMs(from: Long, until: Long): Map[String, Double] = synchronized {
    driverSamples.zip(driverSamples.drop(1))
      .filter { case ((ms, _), _) => ms >= from && ms <= until }
      .groupMapReduce(_._1._2) { case ((a, _), (b, _)) => math.min(b - a, 50L).toDouble }(_ + _)
  }
  def taskMs(label: String): Double = synchronized {
    taskSamples.count { case (ms, l) => l == label && ms >= fromMs }.toDouble * TaskEveryMs
  }

  /** Start sampling the driver thread picked by `driverThread`. */
  def start(driverThread: () => Option[Thread]): Unit = {
    spark.sparkContext.addSparkListener(this)
    running = true
    sampler = new Thread(() => {
      val mx = ManagementFactory.getThreadMXBean
      var target: Option[Thread] = None
      var nextTask = 0L
      while (running) {
        if (target.forall(!_.isAlive)) target = driverThread()
        target.foreach { t =>
          val st = t.getStackTrace.toSeq.map(_.toString)
          if (st.nonEmpty) {
            val l = Trace.layerOf(st)
            synchronized(driverSamples += ((System.currentTimeMillis(), l)))
          }
        }
        val now = System.nanoTime()
        if (now >= nextTask) {
          nextTask = now + TaskEveryMs * 1000000L
          val ids = Trace.threads().filter(_.getName.startsWith("Executor task launch worker"))
            .map(_.getId).toArray
          val ms = System.currentTimeMillis()
          mx.getThreadInfo(ids, 64).filter(_ != null).foreach { ti =>
            val fr = ti.getStackTrace.map(_.getClassName)
            if (fr.exists(_.startsWith("graft.sources.KafkaShaped")))
              synchronized(taskSamples += ((ms, "sources")))
            else if (fr.exists(c => c.contains("JacksonParser") || c.contains("JsonToStructs")))
              synchronized(taskSamples += ((ms, "parse")))
          }
        }
        Thread.sleep(DriverEveryMs.toLong)
      }
    }, "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Stop sampling and wait until the listener has seen every event. */
  def stop(): Unit = {
    running = false
    if (sampler != null) sampler.join()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    resolve()
  }
}

object Trace {
  /** Local property the benchmark sets before a call it makes itself. */
  val SpanProperty = "perfbench.span"

  /** Sampling intervals of the driver thread and the executor task threads. */
  private val DriverEveryMs = 2
  private val TaskEveryMs = 10

  /** Layer patterns, innermost call first wins. */
  private val Patterns: Seq[(String, String)] = Seq(
    "graft.streaming.JdbcSink$.apply" -> "jdbc",
    "graft.streaming.CdcStreaming$.upsertBatch" -> "merge",
    "graft.streaming.CdcStreaming$.routeFailures" -> "route",
    "graft.streaming.CdcStreaming$.parseBatch" -> "parse",
    "graft.sources.KafkaShaped" -> "sources",
    "graft.streaming.Consumer$.$anonfun$start" -> "batch",
    "graft.streaming.CdcStreaming$.$anonfun$start" -> "batch")

  /** Every live thread, without taking their stacks. */
  def threads(): Seq[Thread] = {
    var root = Thread.currentThread.getThreadGroup
    while (root.getParent != null) root = root.getParent
    val all = new Array[Thread](root.activeCount() * 2 + 16)
    all.take(root.enumerate(all, true)).toSeq
  }

  /** The innermost layer named on a call stack (innermost frame first). */
  def layerOf(frames: Seq[String]): String =
    frames.iterator.flatMap(f => Patterns.collectFirst { case (p, l) if f.contains(p) => l })
      .nextOption().getOrElse("engine")
}
