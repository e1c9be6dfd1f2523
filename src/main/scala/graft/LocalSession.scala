package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder of the tool mains (Verify, Profile,
  * ProbeAB, ScaleData) and the test suites: `local[cpus]` with
  * shuffle partitions = cpus, UTC session time zone, UI off. `cpus` comes
  * from SPARK_GRAFT_CPUS, default every available processor. `Main` is
  * production and sets no master; `Bench` keeps its own builder.
  */
object LocalSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive int, got '$v'"))
  }

  def apply(): SparkSession = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
