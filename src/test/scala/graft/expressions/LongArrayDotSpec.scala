package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

class LongArrayDotSpec extends SparkSpec {
  import spark.implicits._

  test("codegen path: dot of long arrays") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
      .select(Similarity.qdot(col("a"), col("b")))
    assert(df.collect().head.getLong(0) == 32L)
  }

  test("matches the interpreted higher-order formulation on random vectors") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextLong() % 1000000L),
      Seq.fill(64)(rnd.nextLong() % 1000000L)))
    val df = rows.toDF("a", "b").select(
      Similarity.qdot(col("a"), col("b")).as("cg"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L),
        (acc, z) => acc + z).as("hof"))
    assert(df.filter(col("cg") =!= col("hof")).count() == 0)
  }

  test("null propagation") {
    val df = Seq((Seq(1L), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(Similarity.qdot(col("a"), col("b")))
    assert(df.collect().head.isNullAt(0))
  }

  test("type mismatch is an analysis error, not a runtime one") {
    val ex = intercept[Exception] {
      Seq(("x", "y")).toDF("a", "b").select(Similarity.qdot(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.contains("long_array_dot") || ex.getMessage.contains("DATATYPE"))
  }

  test("non-nullable arrays: the stage compiles without codegen fallback and the dot is right") {
    val df = spark.range(1, 6).select(
      Similarity.qdot(array(col("id"), col("id") * 2), array(lit(3L), col("id"))).as("d"))
    assert(!df.schema("d").nullable)
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // a compile error fails the query instead
    try assert(df.collect().map(_.getLong(0)).toSeq == (1L to 5L).map(i => 3 * i + 2 * i * i))
    finally spark.conf.set(key, prev)
  }
}
