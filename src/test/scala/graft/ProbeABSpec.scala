package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The A/B runner's equality gate: equal arms are timed REPS times each,
  * unequal arms are refused before any timed rep runs.
  */
class ProbeABSpec extends SparkSpec {

  /** An arm that counts its invocations. */
  private class Counted(n: Long) extends ((SparkSession, String) => DataFrame) {
    var calls = 0
    def apply(s: SparkSession, d: String): DataFrame = { calls += 1; s.range(n).toDF("x") }
  }

  test("equal arms: one gate run and REPS timed reps per arm") {
    val (oldF, newF) = (new Counted(3), new Counted(3))
    val (oldT, newT) = ProbeAB.compare(spark, "unused", "same", oldF, newF)
    assert(oldT.length == ProbeAB.REPS && newT.length == ProbeAB.REPS)
    assert(oldT.forall(_ >= 0.0) && newT.forall(_ >= 0.0))
    assert(oldF.calls == 1 + ProbeAB.REPS && newF.calls == 1 + ProbeAB.REPS)
  }

  test("unequal arms: refused before any timed rep") {
    val (oldF, newF) = (new Counted(3), new Counted(4))
    val e = intercept[IllegalArgumentException] {
      ProbeAB.compare(spark, "unused", "differ", oldF, newF)
    }
    assert(e.getMessage.contains("probe refused"))
    assert(oldF.calls == 1 && newF.calls == 1)
  }

  test("experiments is empty at rest") {
    assert(ProbeAB.experiments.isEmpty)
  }
}
