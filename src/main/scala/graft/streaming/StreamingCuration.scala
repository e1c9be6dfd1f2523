package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Curation

/** Streaming curation — the continuous-ingest face of the batch p01
  * pipeline, for corpora that arrive as a crawl stream instead of a
  * parquet snapshot: quality gate → watermark-bounded exact dedup →
  * per-(window, source, lang) corpus stats.
  *
  * Chains two stateful operators in one append-mode query (legal since
  * multiple-stateful-operator support landed; both consume the same
  * event-time watermark):
  *
  *   1. `dropDuplicatesWithinWatermark` on the content hash — state is
  *      128 bits per doc within the horizon, sharded by hash, never
  *      bodies (same contract as [[StreamingDedup]]);
  *   2. a tumbling-window aggregation — state is one (window, source,
  *      lang) partial per group, emitted exactly once when the watermark
  *      passes the window end.
  *
  * The quality gate is a stateless codegen'd filter at ingest — rejected
  * docs never reach either state store, which is the point of gating
  * first: at crawl rates the gate drops the junk BEFORE it costs state.
  */
object StreamingCuration {

  /** docs: streaming (doc_id, source, lang, n_chars, text, `tsCol`) →
    * append-mode (win_start, source, lang, n_docs, sum_chars).
    */
  def curateStream(docs: DataFrame, tsCol: String, horizon: String,
      windowDur: String): DataFrame =
    docs
      .filter(size(TextFunctions.tokens(col("text"))) >= Curation.MIN_TOKENS)
      .withColumn("h", md5(col("text")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("h")
      .groupBy(window(col(tsCol), windowDur), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("window.start").as("win_start"), col("source"), col("lang"),
        col("n_docs"), col("sum_chars"))
}
