package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

import graft.operators.Similarity

/** Streaming ANN serving against the persisted IVF-PQ index — the online
  * face of the batch [[Similarity.probeIvfPqIndex]]: a continuous stream
  * of query vectors is scored against the Spark-maintained index with
  * ZERO streaming state.
  *
  * Why the batch probe can't run as-is in a streaming plan: it collects
  * the probed cell ids for partition pruning and ranks through a window —
  * both illegal on an unbounded frame. The streaming shape re-derives the
  * same numbers with stateless row-level work plus one stream-static join:
  *
  *   1. the index MODEL (nCells centroids, k×[[Similarity.PQ_M]]
  *      codebook entries — tiny by the layout contract) is collected ONCE
  *      at query build and rides the codegen'd plan as REFERENCE OBJECTS
  *      inside two compact expressions ([[graft.expressions.IvfCellProbe]],
  *      [[graft.expressions.PqAdcLuts]]). An earlier form inlined the
  *      model as per-centroid literal expression trees — fine at the
  *      fixture's 16 cells, but at a production store's 256 cells the
  *      generated `processNext()` exceeds the JVM 64KB method limit and
  *      janino refuses the class (StreamingAnnSpec's production-k pin
  *      reproduced it; the LshBucketTables lesson). Reference objects keep
  *      the generated code CONSTANT-size in nCells and k;
  *   2. per query row: [[graft.expressions.IvfCellProbe]] ranks the
  *      centroids by (cosine DESC, cell) — the
  *      [[Similarity.assignToCells]] tie-break — and returns the top
  *      [[Similarity.N_PROBE]] cells to explode; the per-subspace ADC
  *      lookup tables are one array<array<bigint>> column
  *      ([[graft.expressions.PqAdcLuts]]) on the same row;
  *   3. ONE stream-static equi-join on `cell` against the code table
  *      (pivoted to one row per vector at query build — a static-side
  *      transform, re-executed per micro-batch exactly like
  *      [[StreamingNearDedup.indexMatches]]'s band scan; a vector lives
  *      in exactly one cell, so no per-(query, vec) aggregation is ever
  *      needed) and the ADC score is PQ_M `element_at` lookups.
  *
  * The ADC integers are bit-identical to the batch probe's LUT-join sum,
  * so ranking a micro-batch with [[ranked]] (inside foreachBatch)
  * reproduces [[Similarity.probeIvfPqIndex]] row-for-row — spec-pinned.
  * Statelessness means index refresh keeps the offsets-only-restart
  * discipline of the other persisted-index streaming probes.
  */
object StreamingAnn {

  /** Scored (query_id, vec_id, cell, adc) rows for a streaming frame of
    * (query_id, qv) quantized query vectors against the index at `dir`.
    */
  def indexScores(queries: DataFrame, dir: String,
      nProbe: Int = Similarity.N_PROBE): DataFrame = {
    Similarity.ivfPqLayoutParams(dir, "StreamingAnn.indexScores")
    val spark = queries.sparkSession
    val M = Similarity.PQ_M

    // ---- model as reference objects (tiny by construction: nCells + k
    // rows — the layout contract bounds both)
    val cb: Array[(Long, Array[Long], Array[Long])] = spark.read.parquet(s"$dir/codebook")
      .collect().map(r => (r.getAs[Long]("j"),
        r.getSeq[Long](r.fieldIndex("cv")).toArray,
        (0 until M).map(m => r.getAs[Long](s"cc$m")).toArray))
      .sortBy(_._1)
    require(cb.map(_._1).toSeq == cb.indices.map(_.toLong),
      s"codebook ids not dense 0..${cb.length - 1} — index at $dir is torn")

    // ---- per-row cell probe + ADC lookup tables, one compact kernel each
    // (the batch path's own ranking column — Similarity.cellProbe)
    val probedCells = Similarity.cellProbe(col("qv"),
      spark.read.parquet(s"$dir/centroids"), nProbe)
    val luts = ColumnShim.column(graft.expressions.PqAdcLuts(
      ColumnShim.expression(col("qv")), cb.map(_._2), cb.map(_._3),
      M, Similarity.PQ_SUBDIM))

    val probe = queries
      .select(col("query_id"), explode(probedCells).as("cell"), luts.as("luts"))

    // ---- static code table, one row per vector (codes carry exactly one
    // row per (vec, m) by the writer's contract)
    val codesWide = spark.read.parquet(s"$dir/codes")
      .groupBy("cell", "vec_id")
      .agg(max(when(col("m") === 0, col("code"))).as("code0"),
        (1 until M).map(m =>
          max(when(col("m") === m, col("code"))).as(s"code$m")): _*)

    val adc = (0 until M).map(m =>
      element_at(element_at(col("luts"), m + 1), col(s"code$m").cast("int") + 1))
      .reduce(_ + _)
    probe.join(codesWide, "cell")
      .withColumn("adc", adc)
      .select("query_id", "vec_id", "cell", "adc")
  }

  /** Top-k per query over ONE micro-batch of [[indexScores]] output (run
    * inside foreachBatch) — the batch probe's (adc, vec_id) ranking.
    */
  def ranked(scoreBatch: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    scoreBatch
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "adc")
      .orderBy("query_id", "rank")
  }
}
