package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The sliced prefix-sum kernel ([[SlicedPrefix]]) against the naive
  * unpartitioned window it replaces, on seeded random frames with
  * clustered ties, negative scores and weights, and three groups: both
  * directions, inclusive row counts and exclusive weighted sums, with
  * and without groups, through the lazy form and the hot-bin split at
  * thresholds 0 (every bin hot), 3 (some hot) and Long.MaxValue (none);
  * a bin width past FINE_SPLITS scores runs the split's fine level.
  * Then the construction-time actions of t22 and q76 (one bin-frame
  * checkpoint carries the hot dispatch) and of the lazy callers (none).
  */
class SlicedPrefixSpec extends SparkSpec {
  import spark.implicits._

  /** (g, id, score, w): a third of the scores share one exact value
    * (the hot tie), the rest spread over negatives and positives; ids
    * are unique with stride 40009, so one tie spans many TIE_CHUNK-wide
    * id chunks.
    */
  private def frame(seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until 300).map { i =>
      val score =
        if (r.nextInt(3) == 0) 1234L
        else if (r.nextInt(4) == 0) (r.nextInt(5) - 2).toLong
        else (r.nextInt(90000) - 30000).toLong
      (r.nextInt(3).toLong, i * 40009L, score, (r.nextInt(1000) - 200).toLong)
    }.toDF("g", "id", "score", "w")
  }

  private final case class Shape(desc: Boolean, groups: Seq[String],
      weighted: Boolean, exclusive: Boolean)

  private val shapes = Seq(
    Shape(desc = true, groups = Nil, weighted = false, exclusive = false),
    Shape(desc = false, groups = Seq("g"), weighted = true, exclusive = true),
    Shape(desc = false, groups = Nil, weighted = true, exclusive = true),
    Shape(desc = true, groups = Seq("g"), weighted = false, exclusive = false))

  private def weightOf(s: Shape): Option[Column] =
    if (s.weighted) Some(col("w")) else None

  /** (id, measure, total) sorted by id. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("id"), col("m").cast("long"), col("tot").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  /** The single window over each group, ordered (score dir, id). */
  private def naive(df: DataFrame, s: Shape): Seq[(Long, Long, Long)] = {
    val w = Window.partitionBy(s.groups.map(col): _*)
      .orderBy(if (s.desc) col("score").desc else col("score").asc, col("id"))
    val m = (s.weighted, s.exclusive) match {
      case (false, false) => row_number().over(w)
      case (false, true) => row_number().over(w) - 1
      case (true, false) => sum(col("w")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      case (true, true) => coalesce(sum(col("w")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    }
    val whole = Window.partitionBy(s.groups.map(col): _*)
    val tot = if (s.weighted) sum(col("w")).over(whole)
      else count(lit(1)).over(whole)
    rows(df.withColumn("m", m).withColumn("tot", tot))
  }

  private def binned(df: DataFrame, width: Long): DataFrame =
    df.withColumn("bin", expr(s"score div $width")).localCheckpoint(true)

  test("byScore equals the naive window: directions, groups, measures, " +
      "hot thresholds and the fine level") {
    for ((s, seed) <- shapes.zipWithIndex; width <- Seq(8L, 16384L)) {
      val df = binned(frame(seed.toLong), width)
      val expected = naive(df, s)
      for (threshold <- Seq(0L, 3L, Long.MaxValue)) {
        val got = rows(SlicedPrefix.byScore(df, Seq("bin"), "m", s.desc,
          SlicedPrefix.HotSplit("score", "id", width, threshold),
          groups = s.groups, weight = weightOf(s), exclusive = s.exclusive,
          total = Some("tot")))
        assert(got == expected, s"$s width=$width threshold=$threshold")
      }
    }
  }

  test("the lazy form equals the naive window for every measure, and " +
      "serves two directions off one bin frame") {
    val all = for (d <- Seq(true, false); g <- Seq(Nil, Seq("g"));
      wt <- Seq(false, true); ex <- Seq(false, true)) yield Shape(d, g, wt, ex)
    all.zipWithIndex.foreach { case (s, seed) =>
      val df = binned(frame(seed.toLong), 5000L)
      val within = Seq(
        if (s.desc) col("score").desc else col("score").asc, col("id"))
      val got = rows(SlicedPrefix(df, Seq("bin"),
        Seq(SlicedPrefix.Run("m", s.desc, within: _*)), groups = s.groups,
        weight = weightOf(s), exclusive = s.exclusive, total = Some("tot")))
      assert(got == naive(df, s), s.toString)
    }
    val df = binned(frame(7L), 5000L)
    val both = SlicedPrefix(df, Seq("bin"), Seq(
      SlicedPrefix.Run("m", desc = true, col("score").desc, col("id")),
      SlicedPrefix.Run("up", desc = false, col("score").asc, col("id"))),
      total = Some("tot"))
    val plan = both.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).length == 2,
      s"one bin aggregate (partial + final) for both runs:\n$plan")
    val up = Shape(desc = false, groups = Nil, weighted = false,
      exclusive = false)
    assert(rows(both) == naive(df, Shape(desc = true, groups = Nil,
      weighted = false, exclusive = false)))
    assert(rows(both.withColumn("m", col("up"))) == naive(df, up))
  }

  /** The actions (completed query executions) `run` triggers on the
    * shared session, by function name, in completion order.
    */
  private def actions(run: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(f)
    }
    ListenerBusDrain(spark.sparkContext) // earlier work's events land first
    spark.listenerManager.register(listener)
    try {
      try run
      finally ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private val CK = "localCheckpoint"

  test("t22 and q76: the hot dispatch rides the bin frame's checkpoint") {
    val doc = frame(11L).select(col("id").as("doc_id"),
      col("score").as("lm_score"))
    for (threshold <- Seq(0L, Long.MaxValue)) {
      // the thin binned input, then the bin frame with the hot count
      // observed on it; no separate hot probe
      val acts = actions { TextOps.slicedRanks(doc, threshold).collect() }
      assert(acts == Seq(CK, CK, "collect"), s"t22 $threshold: $acts")
    }
    val events = frame(12L).select(col("id").as("user_id"),
      when(col("g") === 0L, "buy").otherwise("ad").as("event_type"),
      (col("score") / 100.0).as("value"))
    for (threshold <- Seq(0L, Long.MaxValue)) {
      // the user frame, the int64 envelope scalar, the bin frame
      val acts = actions {
        Extras.revenueGiniOf(events, hotThreshold = threshold).collect()
      }
      assert(acts == Seq(CK, "head", CK, "collect"), s"q76 $threshold: $acts")
    }
  }

  test("p06, p09, p17, p24 and q47 stay lazy: building them runs no action") {
    val d = "/root/testdata/sf0.001"
    val acts = actions {
      Curation.sequencePacking(spark, d)
      Curation.curriculumOrder(spark, d)
      Curation.ppsSample(spark, d)
      Curation.shardManifest(spark, d)
      Relational2.nullOrdering(spark, d)
    }
    assert(acts.isEmpty, acts.mkString(", "))
  }
}
