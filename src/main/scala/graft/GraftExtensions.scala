package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnShim

import graft.expressions.{CleanTextFold, FloatArrayQuantize, LongArrayDot, LshBucketTables, Md5Prefix60}
import graft.operators.Similarity

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so a SQL-only user gets the same codegen
  * paths the DataFrame API uses:
  *
  *   spark.sql("SELECT long_array_dot(a, b) FROM t")
  *   spark.sql("SELECT float_array_quantize(v) FROM t")   -- 1e6 floor scale
  *   spark.sql("SELECT lsh_buckets(float_array_quantize(v)) FROM t")
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * at session build time, or `GraftExtensions.register(spark)` on a running
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (id, inf, b) =>
      ext.injectFunction((id, inf,
        (args: Seq[Expression]) => b(args)): (FunctionIdentifier, ExpressionInfo,
          FunctionRegistry.FunctionBuilder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("long_array_dot"),
      info("long_array_dot",
        "long_array_dot(a, b) - exact int64 dot product of two array<bigint>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "long_array_dot takes 2 arguments")
        LongArrayDot(args(0), args(1))
      }),
    (FunctionIdentifier("float_array_quantize"),
      info("float_array_quantize",
        "float_array_quantize(v) - floor(x*1e6) int64 components of a float vector"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "float_array_quantize takes 1 argument")
        FloatArrayQuantize(args(0), 1e6)
      }),
    (FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets",
        "lsh_buckets(qv) - the engine's ANN hyperplane bucket ids for a quantized vector"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "lsh_buckets takes 1 argument")
        LshBucketTables(args(0), Similarity.annPlanesQuantized, Similarity.N_PLANES)
      }),
    // Catalyst keeps its bloom expressions in the INTERNAL registry (only
    // InjectRuntimeFilter plants them); exposing both halves gives SQL
    // users the explicit bloom-pruned-join surface
    // (ScalePatterns.bloomPrunedJoin is the DataFrame face):
    //   WHERE might_contain((SELECT bloom_filter_agg(xxhash64(k)) FROM b),
    //                       xxhash64(k))
    (FunctionIdentifier("bloom_filter_agg"),
      info("bloom_filter_agg",
        "bloom_filter_agg(hashedKey[, estItems[, numBits]]) - build a bloom filter sketch over xxhash64'd keys"),
      (args: Seq[Expression]) => args match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
            .toAggregateExpression()
        case Seq(c, est) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, est)
            .toAggregateExpression()
        case Seq(c, est, bits) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, est, bits)
            .toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "bloom_filter_agg takes 1-3 arguments")
      }),
    (FunctionIdentifier("might_contain"),
      info("might_contain",
        "might_contain(bloom, value) - probe a bloom_filter_agg sketch for an xxhash64'd key"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "might_contain takes 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args(0), args(1))
      }),
    // the C8 single-pass text normalizer and the dedup family's base
    // hash, for SQL-only users of the same codegen kernels
    (FunctionIdentifier("clean_text"),
      info("clean_text",
        "clean_text(s, maxLen) - the reference C8 CleanText normalization " +
          "(char fold, emoji/quote strip, '&'->'and', newline join, " +
          "truncate to maxLen); maxLen must be an int literal"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "clean_text takes 2 arguments")
        val maxLen = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"clean_text maxLen must be an int literal, got $other")
        }
        CleanTextFold(args(0), maxLen)
      }),
    (FunctionIdentifier("md5_prefix60"),
      info("md5_prefix60",
        "md5_prefix60(s) - first 60 bits of md5(s) as a non-negative bigint " +
          "(= CAST(CONV(SUBSTRING(MD5(s),1,15),16,10) AS BIGINT), one pass)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "md5_prefix60 takes 1 argument")
        Md5Prefix60(args(0))
      }),
    // the read half of Spark's write-only count_min_sketch aggregate
    // (TextOps.heavyShingles is the DataFrame face of the two-pass
    // heavy-hitter pattern); the sketch must fold at analysis time — a
    // hex literal (X'..') or a pre-materialized literal, NOT a subquery
    (FunctionIdentifier("cms_probe"),
      info("cms_probe",
        "cms_probe(sketch, key) - estimated occurrence count (>= true " +
          "count) of a bigint key against a count_min_sketch binary; " +
          "sketch must be a foldable binary literal"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cms_probe takes 2 arguments")
        require(args(0).foldable &&
          args(0).dataType == org.apache.spark.sql.types.BinaryType,
          "cms_probe sketch must be a foldable binary")
        args(0).eval() match {
          case b: Array[Byte] => graft.expressions.CountMinProbe(args(1), b)
          case other => throw new IllegalArgumentException(
            s"cms_probe sketch evaluated to $other")
        }
      }),
    // the IVF-PQ serving pair. Like cms_probe, the model must fold at
    // analysis time — the centroid matrix / codebook ride as foldable
    // array literals and become codegen reference objects; derived model
    // parts (centroid norms, per-subspace self-dots) are computed here
    // through the SAME IvfServingKernels helpers the DataFrame path uses,
    // so the two surfaces cannot drift.
    (FunctionIdentifier("ivf_cell_probe"),
      info("ivf_cell_probe",
        "ivf_cell_probe(qv, cells, cents, nProbe) - top-nProbe IVF cell ids " +
          "of a quantized query; cells (array<int>) and cents " +
          "(array<array<bigint>>, parallel to cells) must be foldable; " +
          "nProbe an int literal"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "ivf_cell_probe takes 4 arguments")
        val cells = foldableArray(args(1), "ivf_cell_probe cells").toIntArray()
        val cents = foldableNestedLongs(args(2), "ivf_cell_probe cents")
        val nProbe = intLiteral(args(3), "ivf_cell_probe nProbe")
        require(cells.length == cents.length,
          s"ivf_cell_probe: ${cells.length} cells vs ${cents.length} centroids")
        graft.expressions.IvfCellProbe(args(0), cells, cents,
          cents.map(graft.expressions.IvfServingKernels.centroidNorm), nProbe)
      }),
    (FunctionIdentifier("pq_adc_luts"),
      info("pq_adc_luts",
        "pq_adc_luts(qv, codebook, nSub, subDim) - per-subspace ADC lookup " +
          "tables (exact squared-L2 longs) of a quantized query against a " +
          "foldable array<array<bigint>> codebook (row j = full quantized " +
          "centroid j); nSub/subDim int literals"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "pq_adc_luts takes 4 arguments")
        val cb = foldableNestedLongs(args(1), "pq_adc_luts codebook")
        val nSub = intLiteral(args(2), "pq_adc_luts nSub")
        val subDim = intLiteral(args(3), "pq_adc_luts subDim")
        require(cb.nonEmpty, "pq_adc_luts codebook must be non-empty")
        graft.expressions.PqAdcLuts(args(0), cb,
          cb.map(graft.expressions.IvfServingKernels.subspaceSelfDots(_, nSub, subDim)),
          nSub, subDim)
      }),
    // mergeable bottom-k distinct sketch (Extras.kmvAudienceOverlap is
    // the DataFrame face); the analyzer wraps the returned
    // AggregateFunction in an AggregateExpression like any built-in agg
    // the m06 content-defined chunking kernel (Multimodal.cdcChunksOf is
    // the DataFrame face)
    (FunctionIdentifier("cdc_chunks"),
      info("cdc_chunks",
        "cdc_chunks(payload, window, mask) - array<struct<h bigint, l " +
          "bigint>> of content-defined chunks of a binary payload: a " +
          "byte position ends a chunk when md5_60(hex of the trailing " +
          "<window> bytes) % mask == 0; h = md5_60(hex of the chunk), " +
          "l = its byte length. window/mask int literals"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "cdc_chunks takes 3 arguments")
        graft.expressions.CdcChunks(args(0),
          intLiteral(args(1), "cdc_chunks window"),
          intLiteral(args(2), "cdc_chunks mask").toLong)
      }),
    // the s13 greedy diversification kernel (Similarity.mmrRerank is the
    // DataFrame face)
    (FunctionIdentifier("mmr_select"),
      info("mmr_select",
        "mmr_select(cands, sims, k) - greedy maximal-marginal-relevance " +
          "picks over one query's shortlist: cands array<struct<vec_id " +
          "bigint, rel double>>, sims array<struct<a bigint, b bigint, " +
          "sim double>>, k an int literal; returns array<struct<step, " +
          "vec_id, mmr2>>"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "mmr_select takes 3 arguments")
        new graft.expressions.MmrSelect(args(0), args(1),
          intLiteral(args(2), "mmr_select k"))
      }),
    (FunctionIdentifier("kmv_sketch"),
      info("kmv_sketch",
        "kmv_sketch(hash, k) - ascending array<bigint> of the k smallest " +
          "distinct bigint values; k an int literal. Deterministic, " +
          "mergeable (k-min of concatenated sketches = sketch of the " +
          "union), supports distinct/union/intersection estimates"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kmv_sketch takes 2 arguments")
        graft.expressions.KmvSketchAgg(args(0),
          intLiteral(args(1), "kmv_sketch k"))
      }),
    (FunctionIdentifier("kll_sketch"),
      info("kll_sketch",
        "kll_sketch(v, k) - serialized KLL quantile sketch of bigint " +
          "values; k an int literal. Mergeable via kll_union; read with " +
          "kll_quantile"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kll_sketch takes 2 arguments")
        graft.expressions.KllSketchAgg(args(0),
          intLiteral(args(1), "kll_sketch k"))
      }),
    (FunctionIdentifier("kll_union"),
      info("kll_union",
        "kll_union(sk, k) - union aggregate over serialized KLL sketches"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kll_union takes 2 arguments")
        graft.expressions.KllUnionAgg(args(0),
          intLiteral(args(1), "kll_union k"))
      }),
    (FunctionIdentifier("kll_quantile"),
      info("kll_quantile",
        "kll_quantile(sk, q) - quantile estimate (bigint) off a " +
          "serialized KLL sketch; q a numeric literal in (0,1)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kll_quantile takes 2 arguments")
        // SQL parses `0.5` as DECIMAL(1,1), not DOUBLE — accept any
        // foldable numeric and widen, keeping the loud error only for
        // genuinely non-foldable / non-numeric args
        val q = args(1) match {
          case e if e.foldable => e.eval() match {
            case d: Double => d
            case f: Float => f.toDouble
            case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
            case n: java.lang.Number => n.doubleValue()
            case other => throw new IllegalArgumentException(
              s"kll_quantile q must be a numeric literal, got $other")
          }
          case other => throw new IllegalArgumentException(
            s"kll_quantile q must be a numeric literal, got $other")
        }
        graft.expressions.KllQuantile(args(0), q)
      }))

  // ---- foldable-model argument extraction (the cms_probe discipline:
  // the model is plan data, so it must be known at analysis time)
  private def foldableArray(e: Expression, what: String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    require(e.foldable && e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
      s"$what must be a foldable array literal, got ${e.dataType.catalogString}")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a
      case other => throw new IllegalArgumentException(
        s"$what evaluated to $other")
    }
  }

  private def foldableNestedLongs(e: Expression, what: String): Array[Array[Long]] = {
    val outer = foldableArray(e, what)
    Array.tabulate(outer.numElements()) { i =>
      require(!outer.isNullAt(i), s"$what row $i is null")
      outer.getArray(i).toLongArray()
    }
  }

  private def intLiteral(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  /** Register into an already-running session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, inf, b) =>
      ColumnShim.registerFunction(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], id, inf, b)
    }
}
