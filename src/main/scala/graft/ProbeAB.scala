package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Optimization A/B runner: prices the OLD (pre-optimization) and NEW
  * (registered) formulation of one operator in the SAME JVM with
  * INTERLEAVED reps — the discipline for a host with long-lived co-tenant
  * load, where isolated before/after runs are incomparable (untouched
  * keys swing 3-6x between group runs; canary-normalization bounds but
  * does not remove that). A co-tenant burst lands on adjacent old/new
  * reps alike, so the RATIO of the two medians is the robust statistic.
  * Every experiment is equality-gated first: old and new must produce
  * identical rows, or the measurement is refused.
  *
  * `experiments` is empty at rest. A performance change adds its old arm
  * (inlined verbatim) for the length of that change, records the rep
  * arrays this prints, and ships with the map empty again.
  *
  * Usage: SPARK_GRAFT_AB=g06,g02 runMain graft.ProbeAB [sfDir]
  */
object ProbeAB {
  type Arm = (SparkSession, String) => DataFrame

  /** Interleaved reps per arm. */
  val REPS = 5

  /** name -> (old arm, new arm). */
  def experiments: Map[String, (Arm, Arm)] = Map.empty

  /** Equality-gate `oldF` against `newF` (which also warms both), then
    * time REPS interleaved old/new runs to a noop sink. Returns the
    * (old, new) rep arrays in seconds; throws before any timed rep when
    * the arms' rows differ.
    */
  def compare(spark: SparkSession, sfDir: String, name: String,
      oldF: Arm, newF: Arm): (Array[Double], Array[Double]) = {
    val oldRows = oldF(spark, sfDir).collect().toSeq.map(_.toSeq)
    val newRows = newF(spark, sfDir).collect().toSeq.map(_.toSeq)
    require(oldRows == newRows,
      s"[ab] $name: OLD != NEW (${oldRows.length} vs ${newRows.length} rows) — probe refused")
    val (oldT, newT) = (Array.ofDim[Double](REPS), Array.ofDim[Double](REPS))
    for (r <- 0 until REPS) {
      var t0 = System.nanoTime()
      oldF(spark, sfDir).write.mode("overwrite").format("noop").save()
      oldT(r) = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      newF(spark, sfDir).write.mode("overwrite").format("noop").save()
      newT(r) = (System.nanoTime() - t0) / 1e9
    }
    (oldT, newT)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = sys.env.get("SPARK_GRAFT_AB")
      .map(_.split(",").toSeq).getOrElse(experiments.keys.toSeq.sorted)
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().write.mode("overwrite").format("noop").save()
    catch { case e: Throwable => System.err.println(s"[ab] warmup failed: $e") }

    names.foreach { name =>
      val (oldF, newF) = experiments(name)
      val (oldT, newT) = compare(spark, sfDir, name, oldF, newF)
      val om = Bench.median(oldT.toSeq); val nm = Bench.median(newT.toSeq)
      println(f"""{"probe":"ab_$name","old_sec":$om%.3f,"new_sec":$nm%.3f,""" +
        f""""speedup":${om / nm}%.2f,""" +
        s""""old_reps":[${oldT.map(t => f"$t%.3f").mkString(",")}],""" +
        s""""new_reps":[${newT.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    spark.stop()
  }
}
