package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Operator-level profiler: execute named queries (noop sink, full
  * computation) and print the EXECUTED plan tree with each operator's
  * populated SQL metrics — where the rows and the time actually went,
  * not just what the plan promised. Usage:
  *   runMain graft.Profile <sfDir> <name> [name...]
  *
  * The noop write runs its own QueryExecution, so the executed plan (and
  * its metrics) is captured through a QueryExecutionListener rather than
  * read off the original DataFrame. AQE wrappers are unwrapped with
  * reused exchanges/stages marked, not silently expanded — a subtree
  * printed once per consumer but computed once must read as reused.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("d03_ngram_jaccard")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    // operators with EAGER phases (p01's connected components, the
    // similarity family's centroid/codebook builds via localCheckpoint)
    // run several actions before the final sink write — capture them ALL,
    // or the profile attributes their wall time to nothing
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, Long)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        execs.add((qe, durationNs))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        execs.add((qe, -1L))
    })
    names.foreach { n =>
      // untimed warmup: codegen classes + JIT, so the profiled run's
      // metrics reflect steady state, not first-run compilation
      SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
      // listener events are async — drain the warmup's own events to
      // quiescence, or they'd be mis-counted as the profiled run's
      var lastSize = -1
      while (execs.size != lastSize) { lastSize = execs.size; Thread.sleep(250) }
      execs.clear()
      val t0 = System.nanoTime()
      // construction INSIDE the timed window — eager phases count
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // the listener fires asynchronously after the action returns
      val deadline = System.nanoTime() + 5000000000L
      while (execs.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200) // drain stragglers from the same window
      println(f"\n========== $n  ($sec%.2f s, ${execs.size} actions) ==========")
      execs.forEach { case (qe, ns) =>
        println(f"---- action (${ns / 1e9}%.2f s) ----")
        print(render(qe.executedPlan, 0))
      }
    }
    spark.stop()
  }

  private def render(p: SparkPlan, depth: Int): String = p match {
    case a: AdaptiveSparkPlanExec => render(a.executedPlan, depth)
    case r: ReusedExchangeExec =>
      s"${"  " * depth}ReusedExchange (of stage below)\n"
    case q: QueryStageExec =>
      q.plan match {
        case _: ReusedExchangeExec =>
          s"${"  " * depth}ReusedStage#${q.id}\n"
        case inner =>
          s"${"  " * depth}[stage#${q.id}]\n" + render(inner, depth + 1)
      }
    case node =>
      val interesting = node.metrics.toSeq
        .filter { case (_, m) => m.value > 0 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(", ")
      val line = s"${"  " * depth}${node.nodeName}" +
        (if (interesting.nonEmpty) s"  [$interesting]" else "") + "\n"
      line + node.children.map(render(_, depth + 1)).mkString
  }
}
