package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The sliced prefix sum: a global running measure over one total order
  * (a rank, or a running sum of a weight; optionally per group) without
  * an unpartitioned window over the rows. The naive form,
  * `row_number() OVER (ORDER BY ...)` or `sum(w) OVER (ORDER BY ...)`,
  * funnels the whole frame through one task. Here:
  *
  *   1. the caller adds bin columns whose values rise (or fall) with the
  *      order, so every bin is a contiguous range of it;
  *   2. the measure is aggregated per (groups, bins): a frame bounded by
  *      the bin domain, not by the rows;
  *   3. an exclusive prefix sum over that small frame gives each bin its
  *      base, one per direction;
  *   4. the bases are broadcast back onto the rows;
  *   5. a window partitioned by (groups, bins) adds the running measure
  *      inside the bin.
  *
  * base + local = global because everything ahead of a row in the order
  * is either in an earlier bin (counted by the base) or earlier in its
  * own bin (counted by the local window). The result equals the single
  * window exactly, ties included, provided the order is total (it ends
  * in a unique column). Each caller argues its own bin domain is
  * bounded; `QueryInventorySpec` holds the bin-column names whose domain
  * is.
  *
  * Bins must be a deterministic function of the row, never
  * `spark_partition_id()` over a range exchange: the frame has two
  * consumers (the bin aggregate and the join), the planner does not
  * share their exchanges, and RangePartitioner's sampled bounds differ
  * between materializations once sampling is sparse, which silently
  * mis-joins bases.
  *
  * The measure is a row count (`weight` None: `row_number`, or
  * `row_number - 1` exclusive) or a weight (a running `sum`, inclusive
  * of the row or, exclusive, of the rows before it). `total` adds the
  * per-group total of the measure off the same bin frame.
  */
private[graft] object SlicedPrefix {

  /** One running measure written to `out`: bins taken in descending
    * (`desc`) or ascending order, `within` ordering the rows of a bin.
    */
  final case class Run(out: String, desc: Boolean, within: Column*)

  /** A (score, id) order — `score` integral and in the bins' direction,
    * `id` unique and ascending — with the skew fallback: a bin holding
    * more than `threshold` rows would put that many rows through its one
    * window task, so it is split by [[byScore]]'s nested levels instead.
    * `binWidth` is the score width of one bin.
    */
  final case class HotSplit(score: String, id: String, binWidth: Long,
      threshold: Long)

  /** Fine sub-bins per hot bin (the fine level runs only when a bin is
    * wider than this many scores).
    */
  private val FINE_SPLITS = 4096L
  /** id chunk width inside one exact-score tie. */
  private val TIE_CHUNK = 65536L

  private val N = "_sp_n"
  private val HOT = "_sp_hot"
  private val FINE = "_sp_fine"
  private val CHUNK = "_sp_chunk"

  /** The lazy form: no action, any within-bin order. `df` is read twice
    * (bin aggregate and join); the caller checkpoints it if its lineage
    * is expensive.
    */
  def apply(df: DataFrame, bins: Seq[String], runs: Seq[Run],
      groups: Seq[String] = Nil, weight: Option[Column] = None,
      exclusive: Boolean = false, total: Option[String] = None): DataFrame = {
    val joined = df.join(broadcast(
      binBases(df, groups, bins, runs, weight, total, None)), groups ++ bins)
    runs.foldLeft(joined)((f, r) =>
      running(f, groups ++ bins, r, weight, exclusive)).drop(runs.map(base): _*)
  }

  /** The (score, id) order with the hot-bin split. Whether any bin is
    * hot is a dispatch, not insurance: the bin frame is checkpointed
    * once and the hot-bin count is observed on that same job
    * ([[Graph.checkpointed]]); with no hot bin the plan is [[apply]]'s
    * single window, with no hot aggregates and no union (planning the
    * hot branch unconditionally once cost t22 1.4× for skew that never
    * came). A hot bin is ranked by decomposition instead:
    *
    *   measure = base(bin)
    *     + measure of earlier fine sub-bins      (bin) window over ≤ FINE_SPLITS aggregated rows
    *     + measure of earlier scores in my fine  (bin, fine) window over aggregated rows
    *     + measure of my tie's earlier id chunks (score) window over aggregated chunk rows
    *     + running measure inside (score, chunk) ≤ ~TIE_CHUNK rows
    *
    * Every level is a window over an aggregated frame or a partitioned
    * window; the sub-keys are ordered ranges (finer scores, id ranges
    * inside an exact tie), never hashes, which could not rebuild an
    * order from offsets. The fine sub-bin is `score div (binWidth div
    * FINE_SPLITS)` and is skipped when that width is 1. The one residual
    * concentration is one exact score holding a huge tie: its chunk
    * window reads one aggregated row per TIE_CHUNK ids.
    *
    * `df` is read by the bin aggregate, the join and, when hot, each
    * level: the caller passes it checkpointed.
    */
  def byScore(df: DataFrame, bins: Seq[String], out: String, desc: Boolean,
      split: HotSplit, groups: Seq[String] = Nil,
      weight: Option[Column] = None, exclusive: Boolean = false,
      total: Option[String] = None): DataFrame = {
    import split._
    val keys = groups ++ bins
    val run = Run(out, desc, ordered(col(score), desc), col(id))
    val (bases, seen) = Graph.checkpointed(
      binBases(df, groups, bins, Seq(run), weight, total, Some(threshold)),
      count(when(col(HOT), lit(1))).as("hot_bins"))
    val joined = df.join(broadcast(bases), keys)
    val ranked =
      if (seen("hot_bins") == 0L) running(joined, keys, run, weight, exclusive)
      else {
        val fineW = binWidth / FINE_SPLITS
        val levels = (if (fineW > 1) Seq(FINE -> desc) else Nil) ++
          Seq(score -> desc, CHUNK -> false)
        val hot = joined.filter(col(HOT))
          .withColumn(FINE, expr(s"$score div ${math.max(fineW, 1L)}"))
          .withColumn(CHUNK, expr(s"$id div $TIE_CHUNK"))
        // each level's base: the exclusive prefix of its aggregated
        // measure inside the levels above it
        val (leveled, parts) = levels.foldLeft((hot, keys)) {
          case ((f, above), (lvl, d)) =>
            f.join(hot.groupBy((above :+ lvl).map(col): _*)
              .agg(measure(weight).as(N))
              .withColumn(s"_sp_lb_$lvl", before(above, Seq(lvl), d))
              .drop(N), above :+ lvl) -> (above :+ lvl)
        }
        val lbs = levels.map(l => s"_sp_lb_${l._1}")
        val hotRanked = leveled
          .withColumn(out, lbs.map(col).foldLeft(col(base(run)))(_ + _) +
            local(parts, Seq(col(id)), weight, exclusive))
          .drop(lbs :+ FINE :+ CHUNK: _*)
        running(joined.filter(!col(HOT)), keys, run, weight, exclusive)
          .unionByName(hotRanked)
      }
    ranked.drop(base(run), HOT)
  }

  private def base(r: Run): String = s"_sp_base_${r.out}"

  private def ordered(c: Column, desc: Boolean): Column =
    if (desc) c.desc else c.asc

  private def measure(weight: Option[Column]): Column =
    weight.fold(count(lit(1)))(sum(_))

  /** The prefix of the aggregated measure N over `keys`, from the start
    * of the `parts` partition through `end` (-1: exclusive).
    */
  private def before(parts: Seq[String], keys: Seq[String], desc: Boolean,
      end: Long = -1L): Column =
    coalesce(sum(col(N)).over(Window.partitionBy(parts.map(col): _*)
      .orderBy(keys.map(k => ordered(col(k), desc)): _*)
      .rowsBetween(Window.unboundedPreceding, end)), lit(0L))

  /** The (groups, bins) frame: one base per run, the total and, given a
    * threshold, the hot flag (bin rows > threshold).
    */
  private def binBases(df: DataFrame, groups: Seq[String], bins: Seq[String],
      runs: Seq[Run], weight: Option[Column], total: Option[String],
      hotAbove: Option[Long]): DataFrame = {
    val aggs = measure(weight).as(N) +:
      hotAbove.map(t => (count(lit(1)) > t).as(HOT)).toSeq
    val counts = df.groupBy((groups ++ bins).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val based = runs.foldLeft(counts) { (f, r) =>
      f.withColumn(base(r), before(groups, bins, r.desc))
    }
    total.fold(based)(t => based.withColumn(t,
      before(groups, bins, runs.head.desc, Window.unboundedFollowing))).drop(N)
  }

  /** `r.out` = the bin's base + the running measure inside the bin. */
  private def running(f: DataFrame, keys: Seq[String], r: Run,
      weight: Option[Column], exclusive: Boolean): DataFrame =
    f.withColumn(r.out, col(base(r)) + local(keys, r.within, weight, exclusive))

  /** The running measure inside one `parts` partition ordered by `within`. */
  private def local(parts: Seq[String], within: Seq[Column],
      weight: Option[Column], exclusive: Boolean): Column = {
    val w = Window.partitionBy(parts.map(col): _*).orderBy(within: _*)
    weight.fold(
      if (exclusive) row_number().over(w) - 1 else row_number().over(w)) {
      v => coalesce(sum(v).over(w.rowsBetween(Window.unboundedPreceding,
        if (exclusive) -1L else Window.currentRow)), lit(0L))
    }
  }
}
