package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.LongArrayDot
import org.apache.spark.sql.graft.ColumnShim

/** Similarity search over the embeddings table (64-dim float vectors).
  *
  * Numeric determinism: dot products and norms are computed over
  * floor-quantized integer components (x → floor(x·10^6)), so the sums are
  * exact 64-bit integers and the resulting cosine is a single IEEE division
  * — bit-identical between Spark and the DuckDB oracle regardless of
  * summation order. (Float-precision cosine differs between engines at the
  * last ulp, which breaks hash-comparison; established ANN practice
  * quantizes anyway.) With |x| ≤ ~30, products ≤ ~1e15·64 stay far from
  * int64 overflow.
  *
  * Scale design:
  *   - brute-force top-k broadcasts the (small) QUERY side and streams the
  *     candidate corpus once — no unbounded cross join, no global sort;
  *     ranking is a per-query-partition window over k·|queries| rows;
  *   - the LSH variant buckets by random-hyperplane sign bits so each query
  *     probes only its bucket — the 100 TB path; recall is checked in tests
  *     against the brute-force oracle.
  */
object Similarity {

  private val QUANT = 1e6

  /** floor-quantized integer components of a float vector column —
    * codegen'd (graft.expressions.FloatArrayQuantize); the transform() HOF
    * form is interpreted per element.
    */
  def quantize(vec: Column): Column =
    ColumnShim.column(graft.expressions.FloatArrayQuantize(
      ColumnShim.expression(vec), QUANT))

  /** Exact integer dot product of two quantized vectors — a codegen'd
    * Catalyst expression (graft.expressions.LongArrayDot); the interpreted
    * higher-order formulation was the measured hot path.
    */
  def qdot(a: Column, b: Column): Column =
    ColumnShim.column(LongArrayDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Cosine from quantized components: one IEEE division, deterministic. */
  def qcosine(a: Column, b: Column): Column =
    qdot(a, b).cast("double") /
      (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double")))

  /** Brute-force cosine top-k: queries = vec_id < nQueries, corpus = rest.
    * Query side is broadcast; corpus is scanned once.
    */
  def cosineTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame =
    cosineTopKFrom(Tables.embeddings(s, d), nQueries, k)

  /** s01 over any (vec_id, embedding) frame (spec-injectable face). */
  def cosineTopKFrom(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // norms are computed once per row on each side, not once per pair
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val corpus = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), quantize(col("embedding")).as("cv"))
      .withColumn("cnorm", sqrt(qdot(col("cv"), col("cv")).cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.crossJoin(broadcast(q))
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast("double") / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cosine")
      .orderBy("query_id", "rank")
  }

  /** DuckDB oracle: identical quantization + integer dot + one division.
    * (Positional list access is 1-based in DuckDB, matching zip_with order.)
    */
  val cosineTopKSql: String =
    """WITH q AS (SELECT vec_id AS query_id,
      |             [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id,
      |        [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS cv
      |      FROM embeddings WHERE vec_id >= 5),
      |dots AS (SELECT query_id, vec_id,
      |           CAST(list_sum([qv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |             (sqrt(CAST(list_sum([qv[i] * qv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |              sqrt(CAST(list_sum([cv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE))) AS cosine
      |         FROM c CROSS JOIN q),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cosine DESC, vec_id) AS rank
      |           FROM dots)
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------- LSH-bucketed ANN
  /** Multi-table random-hyperplane LSH: L tables of P sign bits each.
    * One table of many planes has near-zero recall on real data (verified:
    * 8 planes x 1 table → recall 0 on the test corpus); multiple smaller
    * tables give recall 1-(1-p^P)^L while each query still probes only
    * |corpus|·L/2^P candidates instead of everything.
    */
  val N_TABLES = 8
  val N_PLANES = 6

  /** Deterministic pseudo-random hyperplanes (seeded), table x plane x dim. */
  private lazy val planes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(N_TABLES, N_PLANES)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** The ANN planes pre-quantized, flat [table*N_PLANES + plane][dim] — the
    * shape LshBucketTables consumes (also used by GraftExtensions' SQL
    * function registration).
    */
  lazy val annPlanesQuantized: Array[Array[Long]] =
    planes.flatMap(_.map(_.map(w => math.floor(w * QUANT).toLong)))

  /** Near-dup detection wants much finer buckets than top-k ANN: with P
    * planes a table has 2^P buckets, and candidate volume per bucket is
    * quadratic in bucket size — at 20k vectors, 6 planes left ~300
    * vectors/bucket (~25M candidate pairs, 6.7 s at sf0.1) while 12 planes
    * leave ~5 (sub-second). Recall for true near-dups (cosine ≥ 0.95) is
    * 1-(1-0.899^12)^8 ≈ 0.93.
    */
  val ND_TABLES = 8
  val ND_PLANES = 12
  private lazy val ndPlanes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(1337)
    Array.fill(ND_TABLES, ND_PLANES)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Array of per-table sign-bit bucket ids for a QUANTIZED vector column.
    * Hyperplanes are quantized with the same 1e6 floor as the vectors, so
    * each sign test is one codegen'd integer dot (LongArrayDot) — the
    * interpreted double-fold version cost ~48 lambda-evaluated dots per
    * vector. Quantization can only flip signs of near-zero projections,
    * which moves a borderline vector between equally-valid buckets (the
    * structure is approximate by definition; recall is pinned by tests).
    */
  def lshBuckets(qvec: Column): Column = lshBucketsFor(planes, qvec)

  /** One codegen'd expression for ALL tables' bucket ids — composing it
    * from per-plane literal-array columns creates thousands of expression
    * nodes and silently drops the projection out of codegen (see
    * graft.expressions.LshBucketTables).
    */
  private def lshBucketsFor(ps: Array[Array[Array[Double]]], qvec: Column): Column = {
    val quantPlanes: Array[Array[Long]] =
      ps.flatMap(_.map(_.map(w => math.floor(w * QUANT).toLong)))
    ColumnShim.column(graft.expressions.LshBucketTables(
      ColumnShim.expression(qvec), quantPlanes, ps(0).length))
  }

  /** ANN top-k: queries probe only same-bucket candidates in any of the L
    * tables. At 100 TB the corpus bucket arrays are computed once at write
    * time (a stored column / partition key); each probe is an equi-join on
    * (table_idx, bucket) — no full-corpus scan per query, no cross join.
    */
  def annLshTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"),
        posexplode(lshBuckets(quantize(col("embedding")))))
      .withColumnRenamed("pos", "table_idx").withColumnRenamed("col", "bucket")
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val corpus = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), quantize(col("embedding")).as("cv"),
        posexplode(lshBuckets(quantize(col("embedding")))))
      .withColumnRenamed("pos", "table_idx").withColumnRenamed("col", "bucket")
      .withColumn("cnorm", sqrt(qdot(col("cv"), col("cv")).cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(broadcast(q), Seq("table_idx", "bucket"))
      .select("query_id", "vec_id", "qv", "cv", "qnorm", "cnorm")
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast("double") / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cosine")
      .orderBy("query_id", "rank")
  }

  // -------------------------------------------------------------- IVF ANN
  val N_CELLS = 16
  val N_PROBE = 3

  /** IVF (inverted-file) ANN: centroids are a deterministic sample of the
    * corpus (every floor(N/N_CELLS)-th vector by id — a stand-in for a
    * k-means build step); vectors live in the cell of their nearest
    * centroid, queries probe the N_PROBE nearest cells. At 100 TB the cell
    * id is a write-time partition column, so a probe is a partition-pruned
    * scan of N_PROBE/N_CELLS of the corpus.
    */
  def annIvfTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val corpusRaw = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // deterministic centroid sample (k-means build stand-in)
    val centroids = seedCentroids(corpusRaw)
    val corpus = assignToCells(corpusRaw, centroids).withColumnRenamed("qv", "cv")
    val queriesDf = assignToCells(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv")),
        centroids, N_PROBE)
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(broadcast(queriesDf), "cell")
      .withColumn("cosine", qdot(col("qv"), col("cv")).cast("double") /
        (col("qnorm") * sqrt(qdot(col("cv"), col("cv")).cast("double"))))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cosine")
      .orderBy("query_id", "rank")
  }

  // ------------------------------------ s23 pruned EXACT top-k search
  /** Safety margin on the pruning comparison: the cell bound is computed
    * in IEEE doubles, so a bound that ties the threshold within rounding
    * must NOT be pruned. 1e-9 is ~1e6 ulps at cosine magnitudes —
    * conservatively large, and the cost of keeping a borderline cell is
    * one extra cell scan, never a wrong answer.
    */
  private val PRUNE_EPS = 1e-9

  /** Per-query-and-cell probe geometry shared by [[prunedExactTopK]] and
    * the spec's pruning-effectiveness face: the s03 cell build (same
    * deterministic centroid sample), each corpus vector's NORMALIZED
    * residual distance to its centroid, and for every (query, cell) the
    * provable cosine upper bound
    *
    *   cos(q, x) = 1 − ‖q̂ − x̂‖²/2 ≤ 1 − max(0, ‖q̂ − ĉ‖ − maxres(C))²/2
    *
    * from the triangle inequality ‖q̂ − x̂‖ ≥ ‖q̂ − ĉ‖ − ‖x̂ − ĉ‖ on the
    * unit sphere (x ∈ C, maxres = max member residual). Returns
    * (assignment, qcell) where assignment is cell-partitioned and
    * checkpointed — phase 1 and phase 2 both re-read its cached blocks.
    */
  /** The s23/s24 index build: per-vector cell assignment with normalized
    * residual distance, plus the ≤ N_CELLS-row cell metadata (centroid +
    * max member residual — the radius column FAISS stores per list).
    */
  private def prunedAssignment(e: DataFrame, nQueries: Int)
      : (DataFrame, DataFrame) =
    prunedAssignmentQv(e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), quantize(col("embedding")).as("cv")))

  /** The same build over a PRE-QUANTIZED (vec_id, cv) corpus — the face
    * s26's generated clustered corpus enters through (its vectors are
    * integer by construction; quantizing floats would be a detour).
    */
  private def prunedAssignmentQv(corpusRaw: DataFrame)
      : (DataFrame, DataFrame) = {
    val centroids = broadcast(seedCentroids(corpusRaw.withColumnRenamed("cv", "qv")))
    val assignment = corpusRaw.crossJoin(centroids)
      .withColumn("cos_xc", qcosine(col("cv"), col("centroid")))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos_xc").desc, col("cell"))))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("cv"), col("cell"),
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("cos_xc"))).as("res"))
      .repartition(col("cell"))
      .localCheckpoint(true)
    val cellStats = assignment.groupBy(col("cell"))
      .agg(max(col("res")).as("maxres"))
    val cellsMeta = centroids.join(cellStats, "cell")
    (assignment, cellsMeta)
  }

  /** Per-(query, cell) probe frame off a broadcastable cell-metadata
    * table: centroid cosine, triangle-inequality bound, probe rank.
    */
  private def queryCellFrame(e: DataFrame, nQueries: Int,
      cellsMeta: DataFrame): DataFrame =
    queryCellFrameQv(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        quantize(col("embedding")).as("qv")), cellsMeta)

  /** The probe frame over PRE-QUANTIZED (query_id, qv) queries. */
  private def queryCellFrameQv(queriesQv: DataFrame,
      cellsMeta: DataFrame): DataFrame =
    queriesQv
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
      .crossJoin(broadcast(cellsMeta))
      .withColumn("cos_qc", qcosine(col("qv"), col("centroid")))
      .withColumn("dqc", sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("cos_qc"))))
      .withColumn("bound", lit(1.0) -
        pow(greatest(lit(0.0), col("dqc") - col("maxres")), 2) / lit(2.0))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_qc").desc, col("cell"))))
      .select("query_id", "qv", "qnorm", "cell", "bound", "probe_rank")

  private def prunedProbeFrames(e: DataFrame, nQueries: Int)
      : (DataFrame, DataFrame) = {
    val (assignment, cellsMeta) = prunedAssignment(e, nQueries)
    (assignment, queryCellFrame(e, nQueries, cellsMeta))
  }

  /** τ per query: the exact k-th best cosine among phase-1 candidates
    * (−2, i.e. "prune nothing", when the probed cells held fewer than k).
    */
  private def tauFrame(phase1: DataFrame, k: Int): DataFrame =
    phase1
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .groupBy(col("query_id"))
      .agg(max(when(col("rk") === k, col("cosine"))).as("kth"),
        count(lit(1)).as("ncand"))
      .select(col("query_id"),
        when(col("ncand") >= k, col("kth")).otherwise(lit(-2.0)).as("tau"))

  /** Exact scores of every query against the corpus vectors in its listed
    * (query_id, cell) pairs — both probe phases are this one shape: the
    * cell-partitioned assignment streamed once against a broadcast
    * ≤ |queries|·N_CELLS row probe list, never an all-pairs join.
    */
  private def scoreCells(assignment: DataFrame, probes: DataFrame): DataFrame =
    assignment.join(broadcast(probes), "cell")
      .withColumn("cosine", qdot(col("qv"), col("cv")).cast("double") /
        (col("qnorm") * sqrt(qdot(col("cv"), col("cv")).cast("double"))))

  /** s23: EXACT cosine top-k served through the IVF cell structure —
    * the "guaranteed-exact search over a clustered layout" slot between
    * s01 (exact, scans everything) and s03 (fast, approximate). Phase 1
    * scores the N_PROBE nearest cells exactly and takes the k-th best as
    * threshold τ; phase 2 rescans ONLY cells whose triangle-inequality
    * bound reaches τ − ε. Any vector in a pruned cell provably scores
    * below τ, so the result is bit-identical to brute force — the oracle
    * IS s01's brute-force SQL, making the driver hash-check a PROOF that
    * pruning lost nothing (the same stance s10 takes for recall, upgraded
    * from "measured high" to "exactly 1 by construction").
    *
    * Scale shape: the corpus is scanned once to build the assignment
    * (at 100 TB this is the stored cell-partitioned index + its per-cell
    * radius column — write-time work, like s03/p23); each phase streams
    * only the listed cells against a broadcast probe list; τ is a
    * |queries|-row broadcast frame. Cells touched = N_PROBE + survivors,
    * and survivors shrink as the index gets tighter (more cells → smaller
    * maxres → tighter bounds), so the exact path RIDES the same geometry
    * that makes the approximate path fast.
    */
  def prunedExactTopK(s: SparkSession, d: String,
      nQueries: Int = 5, k: Int = 10): DataFrame =
    prunedExactTopKFrom(Tables.embeddings(s, d), nQueries, k)

  /** s23 over any (vec_id, embedding) frame (spec-injectable face: the
    * pruning-effectiveness proof runs on a PLANTED clustered corpus —
    * on this repo's near-isotropic test embeddings the triangle bound is
    * honest but loose (member residuals ≈ √2: the curse-of-dimensionality
    * regime where NO metric pruning can fire), while exactness holds on
    * any corpus and is what the driver hash-proves).
    */
  def prunedExactTopKFrom(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val (assignment, qcell) = prunedProbeFrames(e, nQueries)
    val phase1 = scoreCells(assignment,
      qcell.filter(col("probe_rank") <= N_PROBE)
        .select("query_id", "qv", "qnorm", "cell"))
    val tau = tauFrame(phase1, k)
    val survivors = qcell.join(broadcast(tau), "query_id")
      .filter(col("bound") >= col("tau") - lit(PRUNE_EPS))
      .select("query_id", "qv", "qnorm", "cell")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scoreCells(assignment, survivors)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cosine")
      .orderBy("query_id", "rank")
  }

  // -------------------------------- s24 pruned exact search, FROM STORE
  /** Persist the s23 search structure as a real index: `vectors`
    * (vec_id, cv, res) partitioned by cell — the write-time layout that
    * turns a cell probe into a partition-pruned scan — and `cells`
    * (cell, centroid, maxres), the ≤ N_CELLS-row metadata a reader
    * broadcasts.
    */
  def writePrunedIndex(e: DataFrame, nQueries: Int, dir: String): Unit = {
    val (assignment, cellsMeta) = prunedAssignment(e, nQueries)
    assignment.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/vectors")
    cellsMeta.write.mode("overwrite").parquet(s"$dir/cells")
  }

  /** s24: the s23 guaranteed-exact search served from the persisted
    * index — the shape a 100 TB deployment actually runs. Cell metadata
    * is a 16-row broadcast; each phase reads ONLY its cell partitions
    * via literal `cell IN (...)` filters (≤ |queries|·N_PROBE ids in
    * phase 1, ≤ N_CELLS in phase 2 — the Dedup bounded-literal-prune
    * discipline), so the scan cost is partition-pruned IO, not a corpus
    * pass. Oracle = brute force (same exactness proof as s23); the
    * build runs once into a deterministic store (p23 discipline: the
    * untimed bench warmup absorbs it, timed reps price the probe).
    */
  /** A store subtable is complete iff its parquet COMMIT MARKER exists:
    * `Files.exists(dir)` alone would accept a crash-interrupted build as
    * done and serve a truncated index forever (the vacuum-ordering
    * lesson applied to build-on-first-use). mode("overwrite") makes the
    * re-build after a partial crash safe and idempotent.
    */
  private[graft] def committed(paths: String*): Boolean =
    paths.forall(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")))

  /** Build the pruned index iff its tables aren't fully committed. */
  private[graft] def ensurePrunedIndex(e: DataFrame, nQueries: Int,
      dir: String): Unit =
    if (!committed(s"$dir/vectors", s"$dir/cells"))
      writePrunedIndex(e, nQueries, dir)

  def prunedExactTopKFromStore(s: SparkSession, d: String,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    // nQueries is a BUILD parameter (it decides which vectors form the
    // corpus), so it belongs in the index identity: keying on the data
    // dir alone would let a build with one nQueries serve a read with
    // another (query vectors silently treated as corpus members).
    // k is probe-only and deliberately NOT in the key.
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      "graft_pruneidx_" + java.lang.Long.toHexString(
        graft.expressions.Md5Hash.hash60(
          s"$d#nq=$nQueries".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    ensurePrunedIndex(Tables.embeddings(s, d), nQueries, dir.toString)
    prunedExactFromDir(s, Tables.embeddings(s, d), nQueries, k, dir.toString)
  }

  /** The store probe (spec-injectable: any embeddings frame + index dir). */
  private[graft] def prunedExactFromDir(s: SparkSession, e: DataFrame,
      nQueries: Int, k: Int, dir: String): DataFrame = {
    val cellsMeta = s.read.parquet(s"$dir/cells")
    val qcell = queryCellFrame(e, nQueries, cellsMeta)
      .localCheckpoint(true) // ≤ |queries|·N_CELLS rows, read three times
    def vectorsFor(cells: Seq[Int]): DataFrame =
      s.read.parquet(s"$dir/vectors")
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    val probed = qcell.filter(col("probe_rank") <= N_PROBE)
      .select("query_id", "qv", "qnorm", "cell")
    // bounded driver scalars: ≤ |queries|·N_PROBE literal partition prunes
    val probeCells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val tau = tauFrame(scoreCells(vectorsFor(probeCells), probed), k)
    val survivors = qcell.join(broadcast(tau), "query_id")
      .filter(col("bound") >= col("tau") - lit(PRUNE_EPS))
      .select("query_id", "qv", "qnorm", "cell")
      .localCheckpoint(true) // consumed for the id list AND the probe
    val survCells = survivors.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scoreCells(vectorsFor(survCells), survivors)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cosine")
      .orderBy("query_id", "rank")
  }

  /** s24 oracle: brute force, same as s23. */
  val prunedExactStoreSql: String = cosineTopKSql

  // ------------------------------------ s25 recall-vs-nprobe sweep
  /** Sweep ceiling: one probe pass covers every nprobe ≤ this. */
  val NPROBE_MAX = 4

  /** s25: the recall-vs-nprobe tuning curve — THE question an IVF
    * deployment answers before fixing its probe width ("which nprobe
    * hits the recall target, and what does each step cost in
    * candidates"), as one amortized pass: cells are ranked once per
    * query, candidates for the WIDEST setting are scored once, and each
    * narrower setting is a filter over the same scored frame (the
    * d20/d22 band-sweep discipline applied to the ANN index — per-
    * setting reruns would rescan the corpus [[NPROBE_MAX]] times).
    * Ground truth is the s01 exact top-k; recall is exact-integer ppm.
    *
    * Scale shape: one corpus scan for assignment (write-time at
    * deployment, the s24 store), one for the exact truth (the recall
    * EVALUATION cost, run over a sample in production — the s20
    * discipline); candidates stream against a broadcast
    * ≤ |queries|·NPROBE_MAX probe list; the sweep itself is a 4-row
    * aggregate.
    */
  def nprobeSweep(s: SparkSession, d: String,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val (assignment, cellsMeta) = prunedAssignment(e, nQueries)
    val qcell = queryCellFrame(e, nQueries, cellsMeta)
    val cand = scoreCells(assignment,
      qcell.filter(col("probe_rank") <= NPROBE_MAX)
        .select("query_id", "qv", "qnorm", "cell", "probe_rank"))
      .select(col("query_id"), col("vec_id"), col("cosine"), col("probe_rank"))
      .localCheckpoint(true) // scored ONCE; every sweep setting filters it
    val exact = cosineTopKFrom(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    // a candidate scored at probe_rank r serves every nprobe ≥ r
    val swept = cand
      .withColumn("nprobe", explode(sequence(col("probe_rank"), lit(NPROBE_MAX))))
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val hits = swept
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .join(exact, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
    val cost = swept.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_candidates"))
    cost.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe").cast("long").as("nprobe"),
        expr(s"n_candidates div $nQueries").as("mean_candidates"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(1000000 * hits div (${k.toLong} * $nQueries), 0)")
          .as("recall_ppm"))
      .orderBy("nprobe")
  }

  /** s25 oracle: the s03 assignment chain + the s01 exact chain, with
    * the sweep as a probe_rank-threshold unnest — all integer counts.
    */
  lazy val nprobeSweepSql: String =
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
      |corpus AS (SELECT vec_id, qv AS cv FROM v WHERE vec_id >= 5),
      |cents AS (SELECT cell, cv AS centroid FROM (
      |  SELECT vec_id, cv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM corpus WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
      |cassign AS MATERIALIZED (SELECT vec_id, cv, cell FROM (
      |  SELECT c.vec_id, c.cv, cents.cell,
      |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |      CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM corpus c CROSS JOIN cents) WHERE r = 1),
      |qassign AS (SELECT query_id, qv, cell, r AS probe_rank FROM (
      |  SELECT q.vec_id AS query_id, q.qv, cents.cell,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      CAST(list_sum([q.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM v q CROSS JOIN cents WHERE q.vec_id < 5) WHERE r <= $NPROBE_MAX),
      |cand AS MATERIALIZED (SELECT qa.query_id, ca.vec_id, qa.probe_rank,
      |    CAST(list_sum([qa.qv[i]*ca.cv[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([qa.qv[i]*qa.qv[i] FOR i IN range(1,65)]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([ca.cv[i]*ca.cv[i] FOR i IN range(1,65)]) AS DOUBLE))) AS cosine
      |  FROM qassign qa JOIN cassign ca ON ca.cell = qa.cell),
      |exact AS MATERIALIZED (SELECT query_id, vec_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      CAST(list_sum([q.qv[i]*c.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        (sqrt(CAST(list_sum([q.qv[i]*q.qv[i] FOR i IN range(1,65)]) AS DOUBLE)) *
      |         sqrt(CAST(list_sum([c.qv[i]*c.qv[i] FOR i IN range(1,65)]) AS DOUBLE))) DESC, c.vec_id) AS rank
      |  FROM v q CROSS JOIN v c WHERE q.vec_id < 5 AND c.vec_id >= 5) WHERE rank <= 10),
      |swept AS (SELECT cand.*, p.nprobe
      |  FROM cand JOIN (SELECT unnest(range(1, ${NPROBE_MAX + 1})) AS nprobe) p
      |    ON cand.probe_rank <= p.nprobe),
      |ranked AS (SELECT nprobe, query_id, vec_id,
      |    row_number() OVER (PARTITION BY nprobe, query_id
      |                       ORDER BY cosine DESC, vec_id) AS rk
      |  FROM swept),
      |hits AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS hits
      |  FROM ranked JOIN exact USING (query_id, vec_id)
      |  WHERE rk <= 10 GROUP BY 1),
      |cost AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates
      |  FROM swept GROUP BY 1)
      |SELECT CAST(cost.nprobe AS BIGINT) AS nprobe,
      |  n_candidates // 5 AS mean_candidates,
      |  coalesce(hits, 0) AS hits,
      |  coalesce((1000000 * hits) // 50, 0) AS recall_ppm
      |FROM cost LEFT JOIN hits ON cost.nprobe = hits.nprobe
      |ORDER BY nprobe""".stripMargin

  /** Pruning-effectiveness face for the spec (not registered): per query,
    * cells probed in phase 1, cells surviving the bound test, and the
    * total — the spec asserts survivors < total so the exactness proof
    * (driver hash vs brute force) is accompanied by evidence the bound
    * actually PRUNES on clustered data.
    */
  def prunedExactCellCounts(e: DataFrame,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val (assignment, qcell) = prunedProbeFrames(e, nQueries)
    val phase1 = scoreCells(assignment,
      qcell.filter(col("probe_rank") <= N_PROBE)
        .select("query_id", "qv", "qnorm", "cell"))
    val tau = phase1
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .groupBy(col("query_id"))
      .agg(max(when(col("rk") === k, col("cosine"))).as("kth"),
        count(lit(1)).as("ncand"))
      .select(col("query_id"),
        when(col("ncand") >= k, col("kth")).otherwise(lit(-2.0)).as("tau"))
    qcell.join(broadcast(tau), "query_id")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("probe_rank") <= N_PROBE, 1L).otherwise(0L)).as("probed"),
        sum(when(col("bound") >= col("tau") - lit(PRUNE_EPS), 1L).otherwise(0L))
          .as("survivors"))
      .orderBy("query_id")
  }

  /** s23 oracle: s01's brute-force SQL VERBATIM — exactness of the pruned
    * search is the contract the driver hash-checks.
    */
  val prunedExactTopKSql: String = cosineTopKSql

  // ------------------- s26 clustered-corpus prune proof (bound FIRES)
  /** The deterministic clustered corpus for s26, generated from the
    * embeddings table's vec_id universe (same ids, same row count — the
    * operator scales with the table): 16 orthogonal tight clusters,
    * vector i lives in 4-dim block (i mod 16) at magnitude 10^7 with an
    * integer jitter 10^4·(i mod 7 + 1) on dim 4·(i mod 16) + (i mod 4).
    * Integer arithmetic end to end, so DuckDB regenerates it bit-exactly.
    */
  private val clusteredQvExpr =
    expr("""transform(sequence(0, 63), d -> CAST(
        CASE WHEN d div 4 = vec_id % 16
             THEN 10000000 + CASE WHEN d = 4 * (vec_id % 16) + vec_id % 4
                                  THEN 10000 * (vec_id % 7 + 1) ELSE 0 END
             ELSE 0 END AS BIGINT))""")

  /** s26: the s23 pruned-exact search ON THE REGIME IT EXISTS FOR — a
    * clustered corpus — with the survivor-cell census in the checked
    * output. Round 13 pinned the honest negative (on near-isotropic
    * embeddings the triangle bound cannot fire: member residuals ≈ √2)
    * only in a planted spec; this registers the positive as a driver
    * fact: on 16 orthogonal tight clusters the bound must prune to
    * survivors ≤ 2 of 16 cells per query, and the top-k it returns is
    * exact (the oracle replays the WHOLE pruning chain — build,
    * τ-threshold, bound test, survivor rescan — so rows+hash pin both
    * the answer and the measured pruning effectiveness).
    *
    * Scale shape ≡ s23: one corpus pass to build the (checkpointed,
    * cell-partitioned) assignment, broadcast cell metadata and probe
    * lists, phases streaming only listed cells. The generated corpus is
    * one projection over embeddings' vec_ids — no extra input.
    */
  def clusteredPruneProof(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d).select(col("vec_id"),
      clusteredQvExpr.as("v"))
    val corpus = v.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("v").as("cv"))
    val queries = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val (assignment, cellsMeta) = prunedAssignmentQv(corpus)
    val qcell = queryCellFrameQv(queries, cellsMeta)
      .localCheckpoint(true) // ≤ |queries|·N_CELLS rows; read three times
    val phase1 = scoreCells(assignment,
      qcell.filter(col("probe_rank") <= N_PROBE)
        .select("query_id", "qv", "qnorm", "cell"))
    val tau = tauFrame(phase1, 10)
    val withTau = qcell.join(broadcast(tau), "query_id")
    val census = withTau.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("bound") >= col("tau") - lit(PRUNE_EPS), 1L)
          .otherwise(0L)).as("survivors"))
    val survivors = withTau
      .filter(col("bound") >= col("tau") - lit(PRUNE_EPS))
      .select("query_id", "qv", "qnorm", "cell")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scoreCells(assignment, survivors)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .join(broadcast(census), "query_id")
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"),
        col("n_cells"), col("survivors"))
      .orderBy("query_id", "rank")
  }

  /** s26 oracle: the full pruning chain replayed — clustered corpus
    * regenerated from vec_ids, same centroid rule, argmax assignment,
    * per-cell radius, triangle bound, τ from the 3 probed cells,
    * survivor census and rescan. Double arithmetic mirrors the engine
    * op-for-op (one dot / (norm·norm) division shape; bound via
    * power(·,2)); the comparisons it feeds carry huge margins on this
    * corpus (own-cluster bound ≈ 1, cross-cluster ≈ 0), so a last-ulp
    * pow divergence cannot flip a survivor.
    */
  val clusteredPruneProofSql: String =
    """WITH v AS (SELECT vec_id,
      |    [CAST(CASE WHEN (d-1)//4 = vec_id % 16
      |          THEN 10000000 + CASE WHEN (d-1) = 4*(vec_id % 16) + vec_id % 4
      |                               THEN 10000 * (vec_id % 7 + 1) ELSE 0 END
      |          ELSE 0 END AS BIGINT) FOR d IN range(1, 65)] AS qv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, qv,
      |        sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS qnorm
      |      FROM v WHERE vec_id < 5),
      |c AS MATERIALIZED (SELECT vec_id, qv AS cv FROM v WHERE vec_id >= 5),
      |cents AS (SELECT cell, centroid FROM (
      |    SELECT cv AS centroid, row_number() OVER (ORDER BY vec_id) AS cell
      |    FROM c WHERE vec_id % 31 = 6) WHERE cell <= 16),
      |asg0 AS (SELECT c.vec_id, c.cv, cents.cell,
      |    CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([c.cv[i]*c.cv[i] FOR i IN range(1,65)]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE))) AS cos_xc
      |  FROM c CROSS JOIN cents),
      |asg AS MATERIALIZED (SELECT vec_id, cv, cell,
      |    sqrt(greatest(0.0, 2.0 - 2.0*cos_xc)) AS res
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |                    ORDER BY cos_xc DESC, cell) AS r FROM asg0)
      |  WHERE r = 1),
      |meta AS (SELECT cents.cell, centroid, maxres
      |  FROM cents JOIN (SELECT cell, max(res) AS maxres FROM asg GROUP BY cell) s
      |    ON s.cell = cents.cell),
      |qc0 AS (SELECT q.query_id, q.qv, q.qnorm, m.cell, m.maxres,
      |    CAST(list_sum([q.qv[i]*m.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |      (q.qnorm *
      |       sqrt(CAST(list_sum([m.centroid[i]*m.centroid[i] FOR i IN range(1,65)]) AS DOUBLE))) AS cos_qc
      |  FROM q CROSS JOIN meta m),
      |qc AS MATERIALIZED (SELECT query_id, qv, qnorm, cell,
      |    1.0 - power(greatest(0.0, sqrt(greatest(0.0, 2.0 - 2.0*cos_qc)) - maxres), 2) / 2.0 AS bound,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_qc DESC, cell) AS probe_rank
      |  FROM qc0),
      |p1 AS (SELECT qc.query_id, a.vec_id,
      |    CAST(list_sum([qc.qv[i]*a.cv[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |      (qc.qnorm * sqrt(CAST(list_sum([a.cv[i]*a.cv[i] FOR i IN range(1,65)]) AS DOUBLE))) AS cosine
      |  FROM qc JOIN asg a ON a.cell = qc.cell WHERE qc.probe_rank <= 3),
      |tau AS (SELECT query_id,
      |    CASE WHEN count(*) >= 10 THEN max(CASE WHEN rk = 10 THEN cosine END)
      |         ELSE -2.0 END AS tau
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                    ORDER BY cosine DESC, vec_id) AS rk FROM p1)
      |  GROUP BY query_id),
      |census AS (SELECT qc.query_id, CAST(count(*) AS BIGINT) AS n_cells,
      |    CAST(sum(CASE WHEN qc.bound >= tau.tau - 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS survivors
      |  FROM qc JOIN tau USING (query_id) GROUP BY qc.query_id),
      |surv AS (SELECT qc.query_id, qc.qv, qc.qnorm, qc.cell
      |  FROM qc JOIN tau USING (query_id)
      |  WHERE qc.bound >= tau.tau - 1e-9),
      |p2 AS (SELECT s.query_id, a.vec_id,
      |    CAST(list_sum([s.qv[i]*a.cv[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |      (s.qnorm * sqrt(CAST(list_sum([a.cv[i]*a.cv[i] FOR i IN range(1,65)]) AS DOUBLE))) AS cosine
      |  FROM surv s JOIN asg a ON a.cell = s.cell),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                      ORDER BY cosine DESC, vec_id) AS rank FROM p2)
      |SELECT r.query_id, CAST(rank AS INT) AS rank, r.vec_id, cosine,
      |  n_cells, survivors
      |FROM ranked r JOIN census USING (query_id)
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Quantized hyperplane literals as SQL VALUES rows (for the generated
    * s02/d06 oracles).
    */
  private def planeValuesSqlFor(ps: Array[Array[Array[Double]]]): String =
    (for {
      t <- ps.indices
      j <- ps(t).indices
    } yield {
      val vals = ps(t)(j).map(w => math.floor(w * QUANT).toLong).mkString(", ")
      s"($t, $j, [$vals])"
    }).mkString(",\n  ")

  private lazy val planeValuesSql: String = planeValuesSqlFor(planes)

  /** s02 oracle, GENERATED from the same quantized hyperplane literals the
    * Spark plan uses — the whole LSH computation is deterministic integer
    * math plus single IEEE divisions, so DuckDB reproduces it bit-exactly
    * and the driver can hash-check an "approximate" index structure.
    */
  lazy val annLshTopKSql: String = {
    val planeRows = planeValuesSql
    s"""WITH planes(table_idx, plane_idx, pv) AS (VALUES
       |  $planeRows),
       |v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |b AS (SELECT vec_id, table_idx,
       |        CAST(sum(CASE WHEN list_sum([qv[i]*pv[i] FOR i IN range(1,65)]) > 0
       |                 THEN CAST(power(2, plane_idx) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |      FROM v CROSS JOIN planes GROUP BY vec_id, table_idx),
       |n AS (SELECT vec_id, sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm FROM v),
       |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
       |         FROM b qb JOIN b cb ON qb.table_idx = cb.table_idx AND qb.bucket = cb.bucket
       |         WHERE qb.vec_id < 5 AND cb.vec_id >= 5),
       |dots AS (SELECT query_id, cand.vec_id,
       |          CAST(list_sum([q.qv[i]*c.qv[i] FOR i IN range(1,65)]) AS DOUBLE) / (qn.nrm * cn.nrm) AS cosine
       |         FROM cand JOIN v q ON q.vec_id = cand.query_id JOIN v c ON c.vec_id = cand.vec_id
       |         JOIN n qn ON qn.vec_id = cand.query_id JOIN n cn ON cn.vec_id = cand.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank FROM dots)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s03 oracle: the deterministic centroid build (every 31st id, first 16
    * by row_number), cell assignment, N_PROBE probing, and final ranking —
    * all mirrored in SQL. Tie-breaks mirror the Spark windows exactly
    * ((score DESC, cell) and (cosine DESC, vec_id)).
    */
  val annIvfTopKSql: String =
    """WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
      |corpus AS (SELECT vec_id, qv AS cv FROM v WHERE vec_id >= 5),
      |cents AS (SELECT cell, cv AS centroid FROM (
      |  SELECT vec_id, cv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM corpus WHERE vec_id % 31 = 6) WHERE cell <= 16),
      |cassign AS (SELECT vec_id, cv, cell FROM (
      |  SELECT c.vec_id, c.cv, cents.cell,
      |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |      CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM corpus c CROSS JOIN cents) WHERE r = 1),
      |qassign AS (SELECT query_id, qv, cell FROM (
      |  SELECT q.vec_id AS query_id, q.qv, cents.cell,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      CAST(list_sum([q.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM v q CROSS JOIN cents WHERE q.vec_id < 5) WHERE r <= 3),
      |cand AS (SELECT DISTINCT qa.query_id, ca.vec_id
      |         FROM qassign qa JOIN cassign ca ON qa.cell = ca.cell),
      |dots AS (SELECT cand.query_id, cand.vec_id,
      |          CAST(list_sum([q.qv[i]*c.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |            (sqrt(CAST(list_sum([q.qv[i]*q.qv[i] FOR i IN range(1,65)]) AS DOUBLE)) *
      |             sqrt(CAST(list_sum([c.qv[i]*c.qv[i] FOR i IN range(1,65)]) AS DOUBLE))) AS cosine
      |         FROM cand JOIN v q ON q.vec_id = cand.query_id JOIN v c ON c.vec_id = cand.vec_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank FROM dots)
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------- embedding-cosine near-dup
  /** d06: near-duplicate vector pairs — candidates only from shared LSH
    * buckets (sub-quadratic; never an all-pairs cross join), confirmed by
    * the exact quantized cosine ≥ threshold. At 100 TB the bucket arrays
    * are a stored column and this is a bucket-equi-join, same as s02.
    */
  def embeddingNearDupPairs(s: SparkSession, d: String, threshold: Double = 0.8): DataFrame =
    nearDupPairsFromQv(
      Tables.embeddings(s, d).select(col("vec_id"), quantize(col("embedding")).as("qv")),
      threshold)

  /** Near-dup pipeline over an already-quantized (vec_id, qv) corpus. */
  def nearDupPairsFromQv(qvCorpus: DataFrame, threshold: Double): DataFrame = {
    val e = qvCorpus
      .withColumn("nrm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    // Self-join a THIN key table (3 longs/row) and distinct the id pair
    // first: pair-distinct over two longs is a HashAggregate, while
    // dropDuplicates with the vectors carried through forced a
    // SortAggregate over 64-element arrays (measured 2x slower); the
    // vectors join back once per surviving pair.
    val buckets = e.select(col("vec_id"),
        posexplode(lshBucketsFor(ndPlanes, col("qv"))))
      .withColumnRenamed("pos", "table_idx").withColumnRenamed("col", "bucket")
    val pairs = buckets.as("a").join(buckets.as("b"),
        col("a.table_idx") === col("b.table_idx") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine", qdot(col("qa"), col("qb")).cast("double") / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** d06 as driver-checked: the synthetic corpus has NO true near-dup pairs
    * (measured max all-pairs cosine 0.51 at sf0.01, and hyperplane-LSH
    * recall at that similarity is ~0), so the raw operator is green only on
    * 0 = 0 rows — a tautology (VERDICT r3). The fixtures are read-only, so
    * the planting happens in the query: the corpus is augmented with
    * deterministic derived near-dups — for every vec_id % 83 == 0, a vector
    * qv'[i] = 3·qv[i] + qv[(i mod 64)+1] under id + 10,000,000 (integer
    * arithmetic AFTER quantization, so both engines agree bit-exactly;
    * cosine(x, 3x+rot(x)) ≈ 0.95 for these embeddings). The oracle plants
    * identically, so the check now exercises bucket collision, candidate
    * join, exact-cosine confirm, and threshold on real pairs. The pure
    * operator (embeddingNearDupPairs) is unchanged for real corpora.
    */
  val PLANT_EVERY = 83
  val PLANT_ID_OFFSET = 10000000L

  def plantNearDups(qvCorpus: DataFrame): DataFrame = {
    // zip_with here is an interpreted HOF, but it runs only on the planted
    // sliver (|corpus|/83 rows), never the full corpus
    val rotated = concat(slice(col("qv"), 2, 63), slice(col("qv"), 1, 1))
    val planted = qvCorpus.filter(col("vec_id") % PLANT_EVERY === 0)
      .select((col("vec_id") + PLANT_ID_OFFSET).as("vec_id"),
        zip_with(col("qv"), rotated, (a, b) => a * 3 + b).as("qv"))
    qvCorpus.unionByName(planted)
  }

  def embeddingNearDupPairsSeeded(s: SparkSession, d: String,
      threshold: Double = 0.8): DataFrame =
    nearDupPairsFromQv(
      plantNearDups(Tables.embeddings(s, d)
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))),
      threshold)

  /** d06 oracle, generated from the same plane literals, over the same
    * planted corpus.
    */
  lazy val embeddingNearDupPairsSql: String =
    s"""WITH planes(table_idx, plane_idx, pv) AS (VALUES
       |  ${planeValuesSqlFor(ndPlanes)}),
       |v0 AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |v AS (SELECT vec_id, qv FROM v0
       |      UNION ALL
       |      SELECT vec_id + $PLANT_ID_OFFSET,
       |             [3*qv[i] + qv[CASE WHEN i = 64 THEN 1 ELSE i + 1 END] FOR i IN range(1, 65)]
       |      FROM v0 WHERE vec_id % $PLANT_EVERY = 0),
       |b AS (SELECT vec_id, table_idx,
       |        CAST(sum(CASE WHEN list_sum([qv[i]*pv[i] FOR i IN range(1,65)]) > 0
       |                 THEN CAST(power(2, plane_idx) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |      FROM v CROSS JOIN planes GROUP BY vec_id, table_idx),
       |n AS (SELECT vec_id, sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm FROM v),
       |cand AS (SELECT DISTINCT ba.vec_id AS id_a, bb.vec_id AS id_b
       |         FROM b ba JOIN b bb ON ba.table_idx = bb.table_idx AND ba.bucket = bb.bucket
       |                            AND ba.vec_id < bb.vec_id),
       |dots AS (SELECT id_a, id_b,
       |          CAST(list_sum([x.qv[i]*y.qv[i] FOR i IN range(1,65)]) AS DOUBLE) / (nx.nrm * ny.nrm) AS cosine
       |         FROM cand JOIN v x ON x.vec_id = id_a JOIN v y ON y.vec_id = id_b
       |         JOIN n nx ON nx.vec_id = id_a JOIN n ny ON ny.vec_id = id_b)
       |SELECT id_a, id_b, cosine FROM dots WHERE cosine >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------- semantic dedup
  /** s04: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then within each
    * cluster drop all but one of every near-identical set — the pass that
    * removes *semantically* redundant training docs exact/minhash dedup
    * can't see. Composition of machinery this file already oracle-checks:
    * the s03 deterministic-centroid cell assignment (k-means build
    * stand-in), the d06 planted near-dups (the natural corpus has no
    * cosine ≥ 0.9 pairs), and the d06 banded-LSH candidate generation —
    * here additionally constrained to same-cell, which is exactly
    * SemDeDup's "only dedup within a cluster" semantics. Drop rule: a
    * vector is dropped iff SOME confirmed-similar neighbor has a lower
    * id — the pair-local rule, deterministic and one aggregate. (On a
    * similarity chain a<b<c where only adjacent pairs are similar, this
    * drops both b and c, while a sequential greedy pass would re-admit c
    * once b is gone — pair-local is the standard one-shot batch
    * approximation, slightly more aggressive than greedy; SemDeDup itself
    * keeps one arbitrary point per ε-cluster.) Output is the per-cell
    * damage report: cluster size and how many members are dropped.
    *
    * Scale shape: no all-pairs anywhere — candidates come from equality on
    * (cell, table, bucket) over a thin exploded key table, pair-distinct
    * is a hash aggregate over two longs, vectors join back only for
    * surviving candidates. At 100 TB the cell count grows with the corpus
    * (k-means k ~ sqrt(N)), keeping buckets small, and cell is a
    * write-time partition column so the self-join is partition-local.
    */
  val SEM_THRESHOLD = 0.9

  /** Deterministic seed centroids from a (vec_id, qv) corpus: every 31st
    * original id (planted copies excluded), first [[N_CELLS]] by id — the
    * k-means-build stand-in shared by every IVF-derived key.
    *
    * Scale shape: the candidate frame (1/31 of the corpus) is bounded to
    * [[N_CELLS]] rows FIRST via `orderBy().limit()` — a
    * TakeOrderedAndProject with a constant-memory per-partition heap —
    * and only then ranked, so the unpartitioned `row_number` window runs
    * over exactly [[N_CELLS]] rows instead of funneling a
    * corpus-proportional frame through one task (same template as
    * [[pqCodebook]]). The model is collected once, as a local relation,
    * so no consumer of it rescans the corpus.
    */
  def seedCentroids(corpus: DataFrame, nCells: Int = N_CELLS,
      stride: Long = 31L, residue: Long = 6L): DataFrame = {
    val seed = seedCentroidPlan(corpus, nCells, stride, residue)
    corpus.sparkSession.createDataFrame(java.util.Arrays.asList(seed.collect(): _*), seed.schema)
  }

  /** The bounded build [[seedCentroids]] collects. */
  private[graft] def seedCentroidPlan(corpus: DataFrame, nCells: Int,
      stride: Long, residue: Long): DataFrame =
    corpus.filter(col("vec_id") % stride === residue &&
        col("vec_id") < PLANT_ID_OFFSET)
      .orderBy("vec_id").limit(nCells)
      .withColumn("cell", row_number().over(Window.orderBy(col("vec_id"))))
      .select(col("cell"), col("qv").as("centroid"))

  /** Assign every corpus vector to its best `nBest` cells by quantized
    * cosine against the centroids (tie-break (score DESC, cell), mirrored
    * in every oracle that consumes it). The ≤ nCells-row centroid frame
    * is collected once and ranked per row by the serving kernel
    * ([[cellProbe]]) — one narrow projection, no join, no exchange.
    * Every corpus column is carried through, plus `cell` (and its 1-based
    * rank `r` under keepRank); shared by s04/s05 (nBest=1: residency) and
    * the s09 query probe (nBest=N_PROBE). A row with a null `qv` ranks no
    * cell and is dropped.
    */
  def assignToCells(corpus: DataFrame, centsIn: DataFrame, nBest: Int = 1,
      keepRank: Boolean = false): DataFrame = {
    val ranked = corpus.select(col("*"),
      posexplode(cellProbe(col("qv"), centsIn, nBest)).as(Seq("pos", "cell")))
    // keepRank: a caller that needs BOTH the n-probe frame and the
    // residency frame (r = 1 is a prefix of r <= n) can derive them
    // from one ranked execution instead of running the ranking twice
    // (the g09/g12 consolidation, round 17)
    if (keepRank) ranked.withColumn("r", col("pos") + 1).drop("pos")
    else ranked.drop("pos")
  }

  /** The top-`nBest` cell ids (score DESC, cell ASC) of a quantized `qv`
    * column against a (cell, centroid) frame — the ONE cell-ranking
    * kernel of the batch path ([[assignToCells]]). The frame is collected
    * here (≤ nCells rows by every builder's contract) and rides the plan as
    * reference objects of [[graft.expressions.IvfCellProbe]].
    */
  private[graft] def cellProbe(qv: Column, cents: DataFrame, nBest: Int): Column = {
    val model = cents.select(col("cell").cast("int"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    ColumnShim.column(graft.expressions.IvfCellProbe(ColumnShim.expression(qv),
      model.map(_._1), model.map(_._2),
      model.map(m => graft.expressions.IvfServingKernels.centroidNorm(m._2)), nBest))
  }

  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val corpus = plantNearDups(Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv")))
    val assign = assignToCells(corpus, seedCentroids(corpus))
    val e = assign.withColumn("nrm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val buckets = e.select(col("vec_id"), col("cell"),
        posexplode(lshBucketsFor(ndPlanes, col("qv"))))
      .withColumnRenamed("pos", "table_idx").withColumnRenamed("col", "bucket")
    val pairs = buckets.as("a").join(buckets.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.table_idx") === col("b.table_idx") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val dropped = pairs
      .join(e.select(col("vec_id").as("id_a"), col("qv").as("qa"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("qv").as("qb"), col("nrm").as("nb")), "id_b")
      .filter(qdot(col("qa"), col("qb")).cast("double") / (col("na") * col("nb"))
        >= SEM_THRESHOLD)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(1L))
    assign.join(dropped, Seq("vec_id"), "left")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"),
        sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"))
      .orderBy("cell")
  }

  /** s04 oracle: the same planting, centroid build, cell assignment,
    * banded candidates, cosine confirm, and keep-lowest-id drop rule,
    * generated from the identical plane literals.
    */
  lazy val semanticDedupSql: String =
    s"""WITH planes(table_idx, plane_idx, pv) AS (VALUES
       |  ${planeValuesSqlFor(ndPlanes)}),
       |v0 AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |v AS (SELECT vec_id, qv FROM v0
       |      UNION ALL
       |      SELECT vec_id + $PLANT_ID_OFFSET,
       |             [3*qv[i] + qv[CASE WHEN i = 64 THEN 1 ELSE i + 1 END] FOR i IN range(1, 65)]
       |      FROM v0 WHERE vec_id % $PLANT_EVERY = 0),
       |cents AS (SELECT cell, qv AS centroid FROM (
       |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
       |  FROM v WHERE vec_id % 31 = 6 AND vec_id < $PLANT_ID_OFFSET) WHERE cell <= $N_CELLS),
       |assign AS (SELECT vec_id, qv, cell FROM (
       |  SELECT v.vec_id, v.qv, cents.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      CAST(list_sum([v.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
       |  FROM v CROSS JOIN cents) WHERE r = 1),
       |b AS (SELECT s.vec_id, s.cell, p.table_idx,
       |        CAST(sum(CASE WHEN list_sum([s.qv[i]*p.pv[i] FOR i IN range(1,65)]) > 0
       |                 THEN CAST(power(2, p.plane_idx) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |      FROM assign s CROSS JOIN planes p GROUP BY s.vec_id, s.cell, p.table_idx),
       |n AS (SELECT vec_id, sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm FROM v),
       |cand AS (SELECT DISTINCT ba.vec_id AS id_a, bb.vec_id AS id_b
       |         FROM b ba JOIN b bb ON ba.cell = bb.cell AND ba.table_idx = bb.table_idx
       |                            AND ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id),
       |drp AS (SELECT DISTINCT id_b AS vec_id FROM cand
       |         JOIN v x ON x.vec_id = id_a JOIN v y ON y.vec_id = id_b
       |         JOIN n nx ON nx.vec_id = id_a JOIN n ny ON ny.vec_id = id_b
       |         WHERE CAST(list_sum([x.qv[i]*y.qv[i] FOR i IN range(1,65)]) AS DOUBLE)
       |                 / (nx.nrm * ny.nrm) >= $SEM_THRESHOLD)
       |SELECT CAST(a.cell AS INT) AS cell, count(*) AS n_vectors,
       |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM assign a LEFT JOIN drp d USING (vec_id)
       |GROUP BY a.cell ORDER BY cell""".stripMargin

  // ------------------------------------------------------- k-means step
  /** s05: one distributed Lloyd iteration — the k-means refinement that
    * turns s03's deterministic-sample centroids into a real IVF build
    * (repeat until movement < ε at corpus scale). Assignment reuses the
    * s03 shape ([[assignToCells]], per-vector best cell); the update
    * step is the classic two-level aggregation: posexplode by dimension,
    * partial-aggregated sum per (cell, dim) — the map-side combine
    * reduces 64·N exploded rows to ≤ 64·k partials per task BEFORE the
    * exchange — then per-cell array reassembly ordered by dim. The new
    * centroid is floor(sum/n) per component (exact int sums, one IEEE
    * division, floor — both engines bit-agree), and `shift` is the
    * quantized cosine between old and new centroid, the convergence
    * signal a driver loop would threshold.
    *
    * Scale shape: assignment is one narrow projection (the ≤ k-row
    * centroid frame collected once, ranked per row by the
    * [[cellProbe]] kernel — no join, no exchange), one thin (cell, dim,
    * partial-sum) shuffle for the update. Nothing quadratic.
    */
  def kmeansStep(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // The driver's comparator cannot sort ArrayType cells, so the CHECKED
    // projection folds the 64-long centroid to a 16-hex-char md5
    // fingerprint (the t10 redaction trick) — bit-equal across engines
    // because both render int64s identically. kmeansStepFrom keeps the raw
    // array form for the iterate-able library surface.
    kmeansStepFrom(corpus, seedCentroids(corpus))
      .select(col("cell"), col("n_members"), col("shift"),
        substring(md5(array_join(
          transform(col("centroid"), _.cast("string")), ",")), 1, 16)
          .as("centroid_fp"))
      .orderBy("cell")
  }

  /** One Lloyd step from an arbitrary (cell, centroid) frame — the
    * iterate-able form: feed the returned (cell, centroid) back in until
    * `shift` approaches 1 (the "s05 iterated" spec chains two steps). A
    * cell that captures zero vectors KEEPS its old centroid with
    * n_members = 0 and shift = 1.0 — never silently shrinking k across
    * iterations (standard empty-cluster handling; a production build
    * loop would re-seed such cells from far points).
    */
  def kmeansStepFrom(corpus: DataFrame, centsIn: DataFrame): DataFrame = {
    val assign = assignToCells(corpus, centsIn)
    val sums = assign
      .select(col("cell"), posexplode(col("qv")))
      .withColumnRenamed("pos", "dim")
      .groupBy("cell", "dim")
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("dim"),
        floor(col("s").cast("double") / col("n")).cast("long").as("m"), col("n"))
    val updated = sums.groupBy("cell")
      .agg(max(col("n")).as("n_members"),
        transform(sort_array(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("centroid"))
    centsIn.withColumnRenamed("centroid", "old_c")
      .join(updated, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(
          qdot(col("centroid"), col("old_c")).cast("double") /
            (sqrt(qdot(col("centroid"), col("centroid")).cast("double")) *
             sqrt(qdot(col("old_c"), col("old_c")).cast("double"))),
          lit(1.0)).as("shift"),
        coalesce(col("centroid"), col("old_c")).as("centroid"))
      .orderBy("cell")
  }

  /** s05 oracle: identical init, assignment, per-dimension mean, and
    * old-vs-new cosine shift.
    */
  val kmeansStepSql: String =
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
      |cents AS (SELECT cell, qv AS centroid FROM (
      |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
      |assign AS (SELECT vec_id, qv, cell FROM (
      |  SELECT v.vec_id, v.qv, cents.cell,
      |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |      CAST(list_sum([v.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM v CROSS JOIN cents) WHERE r = 1),
      |sums AS (SELECT cell, i AS dim,
      |    CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m,
      |    count(*) AS n
      |  FROM assign, unnest(range(1, 65)) r(i) GROUP BY cell, i),
      |upd AS (SELECT cell, max(n) AS n_members, list(m ORDER BY dim) AS centroid
      |        FROM sums GROUP BY cell)
      |SELECT CAST(c.cell AS INT) AS cell,
      |  CAST(COALESCE(u.n_members, 0) AS BIGINT) AS n_members,
      |  COALESCE(
      |    CAST(list_sum([u.centroid[i]*c.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([u.centroid[i]*u.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([c.centroid[i]*c.centroid[i] FOR i IN range(1,65)]) AS DOUBLE))),
      |    1.0) AS shift,
      |  substr(md5(array_to_string(COALESCE(u.centroid, c.centroid), ',')), 1, 16)
      |    AS centroid_fp
      |FROM cents c LEFT JOIN upd u USING (cell) ORDER BY cell""".stripMargin

  // -------------------------------------------------- iterated k-means
  /** s06: TWO chained Lloyd steps — the convergence loop itself verified
    * cross-engine, not just one refinement (s05). Step 1's centroids
    * feed step 2 exactly as a production IVF build loop would feed them
    * back until `shift` crosses a threshold; the checked output is step
    * 2's (cell, n_members, shift, centroid_fp), which hash-matches only
    * if BOTH the step-1 means and the step-2 re-assignment agree bit-wise
    * with the oracle's chained CTEs — integer means, one IEEE division
    * per score, floor quantization all the way down.
    *
    * The 16-row step-1 centroid frame is localCheckpoint'ed (eager):
    * kmeansStepFrom references its input twice (assignment + old-vs-new
    * shift), and an unbroken lineage would re-execute all of step 1 per
    * reference — the same per-round hygiene the CC loop applies. A real
    * build loop does exactly this between every iteration.
    */
  def kmeansTwoStep(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val step1 = kmeansStepFrom(corpus, seedCentroids(corpus))
      .select(col("cell"), col("centroid")).localCheckpoint(true)
    kmeansStepFrom(corpus, step1)
      .select(col("cell"), col("n_members"), col("shift"),
        substring(md5(array_join(
          transform(col("centroid"), _.cast("string")), ",")), 1, 16)
          .as("centroid_fp"))
      .orderBy("cell")
  }

  /** s06 oracle: the s05 chain twice — step-1 means become step-2
    * centroids (empty cells keep their seed, the kmeansStepFrom
    * contract), and the reported shift compares step 2 against step 1.
    */
  lazy val kmeansTwoStepSql: String = {
    def assign(v: String, c: String): String =
      s"""SELECT vec_id, qv, cell FROM (
        |  SELECT $v.vec_id, $v.qv, $c.cell,
        |    row_number() OVER (PARTITION BY $v.vec_id ORDER BY
        |      CAST(list_sum([$v.qv[i]*$c.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
        |        sqrt(CAST(list_sum([$c.centroid[i]*$c.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, $c.cell) AS r
        |  FROM $v CROSS JOIN $c) WHERE r = 1""".stripMargin
    def update(a: String): String =
      s"""SELECT cell, max(n) AS n_members, list(m ORDER BY dim) AS centroid FROM (
        |  SELECT cell, i AS dim,
        |    CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m,
        |    count(*) AS n
        |  FROM $a, unnest(range(1, 65)) r(i) GROUP BY cell, i) GROUP BY cell""".stripMargin
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
      |c0 AS (SELECT cell, qv AS centroid FROM (
      |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
      |a1 AS (${assign("v", "c0")}),
      |u1 AS (${update("a1")}),
      |c1 AS (SELECT c0.cell, COALESCE(u1.centroid, c0.centroid) AS centroid
      |       FROM c0 LEFT JOIN u1 USING (cell)),
      |a2 AS (${assign("v", "c1")}),
      |u2 AS (${update("a2")})
      |SELECT CAST(c1.cell AS INT) AS cell,
      |  CAST(COALESCE(u2.n_members, 0) AS BIGINT) AS n_members,
      |  COALESCE(
      |    CAST(list_sum([u2.centroid[i]*c1.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([u2.centroid[i]*u2.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([c1.centroid[i]*c1.centroid[i] FOR i IN range(1,65)]) AS DOUBLE))),
      |    1.0) AS shift,
      |  substr(md5(array_to_string(COALESCE(u2.centroid, c1.centroid), ',')), 1, 16)
      |    AS centroid_fp
      |FROM c1 LEFT JOIN u2 USING (cell) ORDER BY cell""".stripMargin
  }

  // ------------------------------------------------ scalar quantization
  /** s07: int8 scalar-quantized (SQ8) brute-force top-k — the 4×-memory
    * compression every production vector store applies before ANN even
    * starts (FAISS SQ8, Milvus/pgvector halfvec-class tricks): each
    * corpus vector stores 64 int8 codes + one scale instead of 64
    * floats, and search scores queries against the CODES. Ranking by
    * cosine makes the per-vector scale cancel exactly —
    * dot(q, code·s/127) / (|q|·|code·s/127|) = dot(q, code) /
    * (|q|·|code|) — so the score is two exact integer dot products and
    * one IEEE division: bit-reproducible in DuckDB, no float-sum
    * nondeterminism anywhere. The checked output carries the SQ8
    * ranking; SimilaritySpec pins its recall against the exact s01
    * ranking (quantization error is real — that's the trade being
    * demonstrated — but it must stay small).
    *
    * The per-row encode is a transform() HOF: interpreted, but over 64
    * elements × corpus rows it is NOT the measured hot path the shingle
    * pipelines hit (and at scale the encode runs ONCE at ingest, writes
    * the code column, and search never touches floats again — the whole
    * point of SQ8). The scoring hot path stays on the codegen'd
    * LongArrayDot.
    */
  def sq8TopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val corpus = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), quantize(col("embedding")).as("cv"))
      .withColumn("ma",
        greatest(aggregate(transform(col("cv"), x => abs(x)), lit(0L),
          (acc, x) => greatest(acc, x)), lit(1L)))
      .withColumn("code",
        transform(col("cv"), x => floor(x * lit(127.0) / col("ma"))))
      .withColumn("cnorm", sqrt(qdot(col("code"), col("code")).cast("double")))
      .select("vec_id", "code", "cnorm")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq8_cosine").desc, col("vec_id"))
    corpus.crossJoin(broadcast(q))
      .withColumn("sq8_cosine",
        qdot(col("qv"), col("code")).cast("double") / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sq8_cosine")
      .orderBy("query_id", "rank")
  }

  val sq8TopKSql: String =
    """WITH v AS (SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, qv FROM v WHERE vec_id < 5),
      |c0 AS (SELECT vec_id, qv,
      |    greatest(list_max([abs(x) FOR x IN qv]), 1) AS ma
      |  FROM v WHERE vec_id >= 5),
      |c AS (SELECT vec_id,
      |    [CAST(floor(qv[i] * 127.0 / ma) AS BIGINT) FOR i IN range(1, 65)] AS code
      |  FROM c0),
      |dots AS (SELECT query_id, c.vec_id,
      |    CAST(list_sum([q.qv[i] * c.code[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([q.qv[i] * q.qv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([c.code[i] * c.code[i] FOR i IN range(1, 65)]) AS DOUBLE)))
      |      AS sq8_cosine
      |  FROM c CROSS JOIN q),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |             ORDER BY sq8_cosine DESC, vec_id) AS rank
      |           FROM dots)
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, sq8_cosine
      |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------ product quantization
  /** s08: product-quantization ANN (PQ with ADC scoring — Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
    * FAISS IndexPQ shape). The 64-dim space splits into [[PQ_M]]
    * subspaces of [[PQ_SUBDIM]] dims; each subspace has a [[PQ_K]]-entry
    * codebook; a corpus vector stores only its 4 code ids. A query builds
    * a (query × subspace × code) distance LOOKUP TABLE once, and scoring
    * a vector is 4 table lookups + a sum — never a float op against the
    * corpus.
    *
    * Determinism: codebooks are the first PQ_K corpus vectors in vec_id
    * order (the s03 centroid convention — a real build runs s05/s06
    * k-means per subspace instead, same plumbing), distances are exact
    * integer squared-L2 over the established floor-quantized components
    * (diff² ≤ 3.6e15·16 ≈ 6e16 — inside int64), argmin ties break to the
    * smallest code id on both engines, so encode, LUT, and ADC all
    * hash-match the oracle exactly.
    *
    * Scale shape: encode is one broadcast(16-row codebook) pass over the
    * corpus — at 100 TB it runs once at ingest and the code ids become
    * write-time columns (4 bytes/vector at PQ_K=256, the real geometry);
    * search is broadcast(320-row LUT) + a linear scan of the code table
    * with a partial-aggregated 4-rows-per-(query, vec) sum + the bounded
    * per-query top-k window. No float vector is touched at query time and
    * nothing quadratic exists anywhere.
    */
  val PQ_M = 4
  val PQ_SUBDIM = 16
  val PQ_K = 16

  /** Exact integer squared L2 distance between quantized slices. */
  private def sqd(a: Column, b: Column): Column =
    qdot(a, a) - lit(2L) * qdot(a, b) + qdot(b, b)

  private def sub(c: Column, m: Int): Column = slice(c, m * PQ_SUBDIM + 1, PQ_SUBDIM)

  /** The PQ_K-row codebook from a (vec_id, qv) corpus: first PQ_K vectors
    * in id order, with per-subspace centroid self-dots precomputed ONCE
    * into the broadcast frame. Shared by s08/s09.
    */
  def pqCodebook(corpus: DataFrame, k: Int = PQ_K): DataFrame =
    corpus.orderBy("vec_id").limit(k)
      .withColumn("j",
        row_number().over(Window.orderBy(col("vec_id"))).cast("long") - 1)
      .select(Seq(col("j"), col("qv").as("cv")) ++
        (0 until PQ_M).map(m => qdot(sub(col("qv"), m), sub(col("qv"), m)).as(s"cc$m")): _*)

  /** Encode: per (vec, subspace), the id of the nearest codebook entry.
    * argmin_j (qq − 2qc + cc) = argmin_j (cc − 2qc) — the probe's
    * self-dot is constant in j, so each pair costs ONE subspace dot
    * (cc comes from the broadcast frame), not the three sqd() would do;
    * exact integers keep the tie-break identical to the full distance.
    */
  def pqEncode(corpus: DataFrame, cb: DataFrame): DataFrame = {
    val reduced = explode(array((0 until PQ_M).map(m =>
      struct(lit(m).as("m"),
        (col(s"cc$m") - lit(2L) * qdot(sub(col("qv"), m), sub(col("cv"), m)))
          .as("dist"))): _*))
    corpus.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("j"), reduced.as("x"))
      .groupBy(col("vec_id"), col("x.m").as("m"))
      .agg(min(struct(col("x.dist").as("dist"), col("j").as("j")))
        .getField("j").as("code"))
  }

  /** ADC lookup table: nQueries × PQ_M × PQ_K rows — broadcast side of
    * every scoring join. Shared by s08/s09.
    */
  def pqLut(queries: DataFrame, cb: DataFrame): DataFrame = {
    def perSubspace(a: Column, b: Column, field: String): Column =
      explode(array((0 until PQ_M).map(m =>
        struct(lit(m).as("m"), sqd(sub(a, m), sub(b, m)).as(field))): _*))
    queries.crossJoin(cb)
      .select(col("query_id"), col("j").as("lj"),
        perSubspace(col("qv"), col("cv"), "pd").as("x"))
      .select(col("query_id"), col("x.m").as("lm"), col("lj"), col("x.pd").as("pd"))
  }

  def pqTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val queries = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv"))
    val corpus = v.filter(col("vec_id") >= nQueries)
    val cb = pqCodebook(corpus)
    val codes = pqEncode(corpus, cb)
    val lut = pqLut(queries, cb)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    codes.join(broadcast(lut), col("m") === col("lm") && col("code") === col("lj"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("pd")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "adc")
      .orderBy("query_id", "rank")
  }

  lazy val pqTopKSql: String =
    s"""WITH v AS (SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, qv FROM v WHERE vec_id < 5),
      |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS j, qv AS cv
      |       FROM (SELECT * FROM v WHERE vec_id >= 5 ORDER BY vec_id LIMIT $PQ_K)),
      |ms AS (SELECT unnest(range(0, $PQ_M)) AS m),
      |d0 AS (SELECT c.vec_id, ms.m, cb.j,
      |    CAST(list_sum([(c.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i]) * (c.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i])
      |                   FOR i IN range(1, ${PQ_SUBDIM + 1})]) AS BIGINT) AS dist
      |  FROM (SELECT vec_id, qv FROM v WHERE vec_id >= 5) c, cb, ms),
      |enc AS (SELECT vec_id, m, j AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
      |    FROM d0) WHERE rn = 1),
      |lut AS (SELECT q.query_id, ms.m, cb.j,
      |    CAST(list_sum([(q.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i]) * (q.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i])
      |                   FOR i IN range(1, ${PQ_SUBDIM + 1})]) AS BIGINT) AS pd
      |  FROM q, cb, ms),
      |adc AS (SELECT l.query_id, e.vec_id, CAST(sum(l.pd) AS BIGINT) AS adc
      |  FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.code
      |  GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |             ORDER BY adc, vec_id) AS rank FROM adc)
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc
      |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------ IVF-PQ composition
  /** s09: IVF-PQ ANN — the composed form a real 100 TB vector store runs
    * (FAISS IndexIVFPQ): s03's inverted-file cell probe bounds WHICH
    * vectors are scored, s08's ADC table scoring bounds WHAT each score
    * costs. Both halves are oracle-green in isolation; the composition
    * is the same machinery chained — seedCentroids/assignToCells for the
    * cells (the s04/s05 convention; the plant filter is a no-op on the
    * raw corpus), pqCodebook/pqEncode/pqLut for the codes.
    *
    * Scale shape: at 100 TB `cell` and the 4 code ids are WRITE-TIME
    * columns (cell the partition key — the s03 claim the
    * TextAndDedupSpec partition-pruning test makes executable), so a
    * probe reads only the queries' ≤ nQueries·N_PROBE cells. It touches
    * N_PROBE/N_CELLS of the corpus and never reads a float vector: the
    * scoring join is broadcast(LUT ≤ nQueries·PQ_M·PQ_K rows) against
    * the pruned code scan, partial-aggregated before its one exchange.
    * Candidate restriction is the (cell) equi-join against the broadcast
    * ≤ nQueries·N_PROBE probe frame — no all-pairs anywhere.
    */
  /** The s09 scored-candidate frame — (query_id, vec_id, adc) for every
    * probed-cell candidate, BEFORE ranking. Shared by the registered
    * top-k, the recall eval (s10), and the re-rank refinement (s11), so
    * all three agree on what "the ADC ranking" is by construction.
    */
  private def ivfPqAdcScores(s: SparkSession, d: String, nQueries: Int): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val queries = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv"))
    val corpus = v.filter(col("vec_id") >= nQueries)
    val cents = seedCentroids(corpus)
    val cassign = assignToCells(corpus, cents).select("vec_id", "cell")
    val qprobe = assignToCells(queries, cents, nBest = N_PROBE)
      .select("query_id", "cell")
    val cb = pqCodebook(corpus)
    val codes = pqEncode(corpus, cb)
    val lut = pqLut(queries, cb).withColumnRenamed("query_id", "lq")
    // probed-cell candidates: (query_id, vec_id) via the cell equi-join
    val cand = cassign.join(broadcast(qprobe), "cell")
      .select("query_id", "vec_id")
    codes.join(cand, "vec_id")
      .join(broadcast(lut),
        col("m") === col("lm") && col("code") === col("lj") &&
          col("query_id") === col("lq"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("pd")).as("adc"))
  }

  /** The ADC ranking, filtered to the top k per query — shared by the
    * registered top-k and the s11 shortlist so both are the same ranking
    * at different depths by construction.
    */
  private def ivfPqRanked(s: SparkSession, d: String, nQueries: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    ivfPqAdcScores(s, d, nQueries)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def ivfPqTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame =
    ivfPqRanked(s, d, nQueries, k)
      .select("query_id", "rank", "vec_id", "adc")
      .orderBy("query_id", "rank")

  // ---- exact squared-L2 scoring, shared by the s10 ground truth and the
  // s11 refine so both mean the same metric (qq + cc − 2·q·c over the
  // floor-quantized components, exact 64-bit integers) by construction
  /** Query-sample frame (query_id, quv, qq) — self-dots once per row. */
  private def l2Queries(v: DataFrame, nQueries: Int): DataFrame =
    v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("quv"))
      .withColumn("qq", qdot(col("quv"), col("quv")))

  /** Corpus frame (vec_id, qv, cc) — self-dots once per row. */
  private def l2Corpus(v: DataFrame, nQueries: Int): DataFrame =
    v.filter(col("vec_id") >= nQueries)
      .withColumn("cc", qdot(col("qv"), col("qv")))

  /** Exact squared L2 between quv and qv via the per-row self-dots. */
  private def exactSq: Column =
    col("qq") + col("cc") - lit(2L) * qdot(col("quv"), col("qv"))

  /** s09 oracle CTE chain (through `ranked`): s03's cents/assign/probe
    * CTEs + s08's cb/enc/lut CTEs, candidates restricted to probed
    * cells. Shared verbatim with the s10 recall and s11 re-rank oracles
    * so all three oracles agree on the ADC ranking by construction.
    */
  private lazy val ivfPqCtes: String =
    s"""WITH v AS (SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, qv FROM v WHERE vec_id < 5),
      |corpus AS (SELECT vec_id, qv FROM v WHERE vec_id >= 5),
      |cents AS (SELECT cell, qv AS centroid FROM (
      |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM corpus WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
      |cassign AS (SELECT vec_id, cell FROM (
      |  SELECT c.vec_id, cents.cell,
      |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |      CAST(list_sum([c.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM corpus c CROSS JOIN cents) WHERE r = 1),
      |qprobe AS (SELECT query_id, cell FROM (
      |  SELECT q.query_id, cents.cell,
      |    row_number() OVER (PARTITION BY q.query_id ORDER BY
      |      CAST(list_sum([q.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM q CROSS JOIN cents) WHERE r <= $N_PROBE),
      |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS j, qv AS cv
      |       FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT $PQ_K)),
      |ms AS (SELECT unnest(range(0, $PQ_M)) AS m),
      |d0 AS (SELECT c.vec_id, ms.m, cb.j,
      |    CAST(list_sum([(c.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i]) * (c.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i])
      |                   FOR i IN range(1, ${PQ_SUBDIM + 1})]) AS BIGINT) AS dist
      |  FROM corpus c, cb, ms),
      |enc AS (SELECT vec_id, m, j AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
      |    FROM d0) WHERE rn = 1),
      |lut AS (SELECT q.query_id, ms.m, cb.j,
      |    CAST(list_sum([(q.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i]) * (q.qv[ms.m*$PQ_SUBDIM+i] - cb.cv[ms.m*$PQ_SUBDIM+i])
      |                   FOR i IN range(1, ${PQ_SUBDIM + 1})]) AS BIGINT) AS pd
      |  FROM q, cb, ms),
      |cand AS (SELECT qp.query_id, ca.vec_id
      |         FROM qprobe qp JOIN cassign ca ON qp.cell = ca.cell),
      |adc AS (SELECT cand.query_id, cand.vec_id, CAST(sum(l.pd) AS BIGINT) AS adc
      |  FROM cand JOIN enc e ON e.vec_id = cand.vec_id
      |  JOIN lut l ON l.query_id = cand.query_id AND l.m = e.m AND l.j = e.code
      |  GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |             ORDER BY adc, vec_id) AS rank FROM adc)""".stripMargin

  lazy val ivfPqTopKSql: String =
    s"""$ivfPqCtes
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc
      |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------- IVF-PQ recall + re-rank
  /** s10: recall@k of the IVF-PQ ranking (s09) against EXACT squared-L2
    * ground truth — the number every production ANN deployment measures
    * before trusting an index (the recall axis of every FAISS/ann-benchmarks
    * report). Ground truth is the exact top-k by integer squared L2 over
    * the same floor-quantized components ADC approximates (deterministic,
    * ties to vec_id); the approximate list is the s09 ranking itself via
    * [[ivfPqAdcScores]]. Output: per-query hit count and recall fraction.
    *
    * Scale shape: the ground-truth half scans the corpus once against a
    * BROADCAST query sample — and the bounded sample is the point: recall
    * is estimated over nQueries probes (production: a few hundred), never
    * query×corpus for the live load. The hits join is k·nQueries rows
    * against k·nQueries rows; nothing here is corpus-proportional except
    * the single ground-truth scan that defines the eval.
    */
  def ivfPqRecall(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sq"), col("vec_id"))
    val exact = l2Corpus(v, nQueries).crossJoin(broadcast(l2Queries(v, nQueries)))
      .withColumn("sq", exactSq)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id")
    val approx = ivfPqRanked(s, d, nQueries, k)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    // left join from the ground truth so a zero-hit query still reports
    // recall 0 instead of vanishing from the output
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("hits"))
      .withColumn("recall", col("hits").cast("double") / lit(k))
      .select("query_id", "hits", "recall")
      .orderBy("query_id")
  }

  /** s10 oracle: the s09 chain + an exact-L2 ground-truth CTE + the
    * per-query intersection count.
    */
  lazy val ivfPqRecallSql: String =
    s"""$ivfPqCtes,
      |exact AS (SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        CAST(list_sum([(q.qv[i]-c.qv[i])*(q.qv[i]-c.qv[i]) FOR i IN range(1,65)]) AS BIGINT),
      |        c.vec_id) AS r
      |    FROM corpus c CROSS JOIN q) WHERE r <= 10),
      |apx AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 10)
      |SELECT e.query_id, CAST(count(a.vec_id) AS BIGINT) AS hits,
      |  CAST(count(a.vec_id) AS DOUBLE) / 10 AS recall
      |FROM exact e LEFT JOIN apx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** s11: ADC shortlist + exact re-rank — the FAISS `refine` stage
    * (IndexRefineFlat): the IVF-PQ ranking keeps its speed for CANDIDATE
    * GENERATION (top-[[RERANK_C]] by ADC, never touching a full vector),
    * then the final top-k re-scores only those C·nQueries candidates
    * with the exact integer squared L2 the codes approximate. This is
    * how production recovers the recall PQ gives up: the quantization
    * error only has to keep the true neighbor inside the top-C, not at
    * its exact rank.
    *
    * Scale shape: the shortlist (≤ C·nQueries rows) is BROADCAST into
    * the corpus scan, so the refine reads full vectors for only the
    * shortlisted rows — one corpus scan, no shuffle of vector data; the
    * re-rank window is over ≤ C rows per query.
    */
  val RERANK_C = 50

  def ivfPqRerank(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val shortlist = ivfPqRanked(s, d, nQueries, RERANK_C)
      .select("query_id", "vec_id")
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sq"), col("vec_id"))
    l2Corpus(v, nQueries).join(broadcast(shortlist), "vec_id")
      .join(broadcast(l2Queries(v, nQueries)), "query_id")
      .withColumn("sq", exactSq)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sq")
      .orderBy("query_id", "rank")
  }

  /** s11 oracle: the s09 chain + shortlist + exact re-scoring CTEs. */
  lazy val ivfPqRerankSql: String =
    s"""$ivfPqCtes,
      |short AS (SELECT query_id, vec_id FROM ranked WHERE rank <= $RERANK_C),
      |ref AS (SELECT s.query_id, s.vec_id,
      |    CAST(list_sum([(q.qv[i]-c.qv[i])*(q.qv[i]-c.qv[i]) FOR i IN range(1,65)]) AS BIGINT) AS sq
      |  FROM short s JOIN corpus c ON c.vec_id = s.vec_id
      |  JOIN q ON q.query_id = s.query_id),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |         ORDER BY sq, vec_id) AS rank FROM ref)
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, sq
      |FROM rr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------- hard negatives
  /** s12: hard-negative mining — for each anchor vector, the k nearest
    * neighbors whose LABEL DIFFERS from the anchor's (contrastive /
    * metric-learning training pairs: "looks closest but isn't the same
    * class"). The standard mining pass behind dense-retriever training
    * (DPR/Contriever-style in-collection negatives).
    *
    * Same determinism contract as s01 (quantized integer dots, one IEEE
    * division) and the same scale shape: the small anchor sample is
    * broadcast against one corpus scan — never corpus×corpus — and the
    * per-anchor top-k is a window over a k·|anchors|-bounded frame. The
    * label-exclusion predicate composes with any candidate generator,
    * the s09 IVF-PQ cell probe included.
    */
  def hardNegatives(s: SparkSession, d: String,
                    nAnchors: Int = 8, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        quantize(col("embedding")).as("qv"))
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val corpus = e.filter(col("vec_id") >= nAnchors)
      .select(col("vec_id"), col("label").as("neg_label"),
        quantize(col("embedding")).as("cv"))
      .withColumn("cnorm", sqrt(qdot(col("cv"), col("cv")).cast("double")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.crossJoin(broadcast(q))
      .filter(col("neg_label") =!= col("anchor_label"))
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast("double") / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("vec_id"),
        col("neg_label"), col("cosine"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** s12 oracle: s01's quantized-cosine CTE chain plus the label filter. */
  val hardNegativesSql: String =
    """WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label,
      |             [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |           FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id, label AS neg_label,
      |        [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS cv
      |      FROM embeddings WHERE vec_id >= 8),
      |dots AS (SELECT anchor_id, vec_id, neg_label,
      |           CAST(list_sum([qv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |             (sqrt(CAST(list_sum([qv[i] * qv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |              sqrt(CAST(list_sum([cv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE))) AS cosine
      |         FROM c CROSS JOIN q WHERE c.neg_label <> q.anchor_label),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
      |                       ORDER BY cosine DESC, vec_id) AS rank
      |           FROM dots)
      |SELECT anchor_id, CAST(rank AS INT) AS rank, vec_id, neg_label, cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY anchor_id, rank""".stripMargin

  // --------------------------------------------- semantic decontamination
  /** p14: embedding-based benchmark decontamination — p02 catches verbatim
    * n-gram leaks; this catches PARAPHRASED leakage: for every corpus
    * vector, its maximum cosine against the benchmark (eval-set) vectors,
    * reported as the top-n ranked contamination candidates a reviewer
    * would triage (threshold-free: the cutoff is a policy decision, the
    * ranking is the engine's job).
    *
    * Scale shape: the benchmark sample is broadcast into ONE corpus scan
    * (same contract as s01/s12); the per-vector max is a constant-width
    * aggregate, and the global top-n is TakeOrderedAndProject. At index
    * scale the scan swaps for the s09 IVF-PQ probe with max-aggregation
    * unchanged. Quantized-integer cosine, so the oracle is bit-exact.
    */
  def semanticDecontam(s: SparkSession, d: String,
                       nBench: Int = 16, topN: Int = 50): DataFrame = {
    val e = Tables.embeddings(s, d)
    val bench = e.filter(col("vec_id") < nBench)
      .select(col("vec_id").as("bench_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val corpus = e.filter(col("vec_id") >= nBench)
      .select(col("vec_id"), quantize(col("embedding")).as("cv"))
      .withColumn("cnorm", sqrt(qdot(col("cv"), col("cv")).cast("double")))
    corpus.crossJoin(broadcast(bench))
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast("double") / (col("qnorm") * col("cnorm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("bench_id")).as("nb"))).as("m"))
      .select(col("vec_id"), (-col("m.nb")).as("bench_id"),
        col("m.cosine").as("max_cosine"))
      .orderBy(col("max_cosine").desc, col("vec_id"))
      .limit(topN)
      .orderBy(col("max_cosine").desc, col("vec_id"))
  }

  /** p14 oracle: s01's CTE chain + an argmax per corpus vector + top-n.
    * The arg-bench tiebreak (smallest bench_id at equal cosine) mirrors
    * the max(struct(cosine, -bench_id)) form.
    */
  val semanticDecontamSql: String =
    """WITH q AS (SELECT vec_id AS bench_id,
      |             [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |           FROM embeddings WHERE vec_id < 16),
      |c AS (SELECT vec_id,
      |        [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS cv
      |      FROM embeddings WHERE vec_id >= 16),
      |dots AS (SELECT c.vec_id, q.bench_id,
      |           CAST(list_sum([qv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |             (sqrt(CAST(list_sum([qv[i] * qv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |              sqrt(CAST(list_sum([cv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE))) AS cosine
      |         FROM c CROSS JOIN q),
      |best AS (SELECT vec_id, bench_id, cosine AS max_cosine FROM dots
      |         QUALIFY row_number() OVER (PARTITION BY vec_id
      |                   ORDER BY cosine DESC, bench_id) = 1)
      |SELECT vec_id, bench_id, max_cosine FROM best
      |ORDER BY max_cosine DESC, vec_id LIMIT 50""".stripMargin

  // ------------------------------------------------------ s13 MMR re-rank
  /** Shortlist width fed to the greedy selection. */
  val MMR_M = 16
  /** Diversified results returned per query. */
  val MMR_K = 8

  /** s13: maximal-marginal-relevance re-rank — retrieval's answer to "the
    * top-k are 8 near-copies of the same document": greedily pick the
    * candidate maximizing λ·rel − (1−λ)·max_{s∈S} sim(c,s) over the
    * already-picked set S. With λ = ½ both terms carry weight ½, so the
    * argmax (and the reported score) can use the ×2 form `rel − maxsim`
    * — no new constants, and every arithmetic op stays in the s01
    * discipline (exact integer dots, IEEE sqrt/divide/subtract), so the
    * greedy trace hash-matches a DuckDB recursive-CTE replay exactly.
    *
    * Shape: ONE corpus scan builds the per-query shortlist (top-[[MMR_M]]
    * by relevance, vectors carried through the window); everything after
    * is bounded by construction — |q|·M² pair sims, then the greedy runs
    * inside [[graft.expressions.MmrSelect]], once per query row over its
    * collected candidates (O(k·M) compares, O(M²) sim entries). The
    * diversity selection never touches the fact table and adds no
    * per-round driver latency; at 100 TB the only data-proportional cost
    * is the shortlist scan it shares with s01.
    */
  def mmrRerank(s: SparkSession, d: String, nQueries: Int = 5): DataFrame =
    mmrRerankFrom(Tables.embeddings(s, d), nQueries)

  /** s13 over any (vec_id, embedding) frame (spec-injectable face). */
  def mmrRerankFrom(e: DataFrame, nQueries: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val corpus = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), quantize(col("embedding")).as("cv"))
      .withColumn("cnorm", sqrt(qdot(col("cv"), col("cv")).cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val sl = corpus.crossJoin(broadcast(q))
      .withColumn("rel",
        qdot(col("qv"), col("cv")).cast("double") / (col("qnorm") * col("cnorm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MMR_M)
      .select(col("query_id"), col("vec_id"), col("rel"), col("cv"), col("cnorm"))
      .localCheckpoint() // ≤ |q|·M rows, vectors included — one fact scan
    val x = sl.select(col("query_id"), col("vec_id").as("a"),
      col("cv").as("av"), col("cnorm").as("an"))
    val y = sl.select(col("query_id"), col("vec_id").as("b"),
      col("cv").as("bv"), col("cnorm").as("bn"))
    val pairs = x.join(y, Seq("query_id")).filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        (qdot(col("av"), col("bv")).cast("double") /
          (col("an") * col("bn"))).as("sim"))
    // the greedy itself runs in the MmrSelect kernel, once per QUERY row
    // over its ≤M candidates — a relational k-round loop here costs k
    // driver round-trips of 10-row jobs (measured: 11 actions / 3.0 s at
    // sf0.1 vs 2 actions / ~1 s with the kernel); collect_list order
    // doesn't matter because the greedy is a pure set function under the
    // (score desc, vec_id asc) tie-break
    val cands = sl.groupBy("query_id")
      .agg(collect_list(struct(col("vec_id"), col("rel"))).as("cands"))
    val sims = pairs.groupBy("query_id")
      .agg(collect_list(struct(col("a"), col("b"), col("sim"))).as("sims"))
    // LEFT join: a query whose shortlist has exactly one candidate emits
    // zero pair rows, so an inner join would drop the query entirely while
    // the oracle's recursive CTE still yields its step-1 pick; MmrSelect
    // needs no sim lookups for the first pick, so an empty sims array is
    // the correct degenerate input
    cands.join(sims, Seq("query_id"), "left")
      .withColumn("sims", coalesce(col("sims"),
        array().cast("array<struct<a:bigint,b:bigint,sim:double>>")))
      .select(col("query_id"),
        explode(graft.expressions.MmrSelect(
          col("cands"), col("sims"), MMR_K)).as("r"))
      .select(col("query_id"), col("r.step").as("step"),
        col("r.vec_id").as("vec_id"), col("r.mmr2").as("mmr2"))
      .orderBy("query_id", "step")
  }

  /** DuckDB mirror: same shortlist/pair sims, greedy replayed as a
    * recursive CTE carrying the picked set as a list column (the LATERAL
    * argmax is this engine's spelling of "pick the best remaining").
    */
  val mmrRerankSql: String =
    s"""WITH RECURSIVE
      |q AS (SELECT vec_id AS query_id,
      |        [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv
      |      FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id,
      |        [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS cv
      |      FROM embeddings WHERE vec_id >= 5),
      |dots AS (SELECT query_id, vec_id, cv,
      |           CAST(list_sum([qv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |             (sqrt(CAST(list_sum([qv[i] * qv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |              sqrt(CAST(list_sum([cv[i] * cv[i] FOR i IN range(1, 65)]) AS DOUBLE))) AS rel
      |         FROM c CROSS JOIN q),
      |sl AS (SELECT query_id, vec_id, cv, rel FROM (
      |         SELECT *, row_number() OVER (PARTITION BY query_id
      |           ORDER BY rel DESC, vec_id) AS rn FROM dots) WHERE rn <= $MMR_M),
      |prs AS (SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
      |          CAST(list_sum([x.cv[i] * y.cv[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |            (sqrt(CAST(list_sum([x.cv[i] * x.cv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |             sqrt(CAST(list_sum([y.cv[i] * y.cv[i] FOR i IN range(1, 65)]) AS DOUBLE))) AS sim
      |        FROM sl x JOIN sl y ON x.query_id = y.query_id AND x.vec_id <> y.vec_id),
      |base AS (SELECT query_id, vec_id, rel FROM (
      |           SELECT query_id, vec_id, rel, row_number() OVER (PARTITION BY query_id
      |             ORDER BY rel DESC, vec_id) AS rn FROM sl) WHERE rn = 1),
      |sel AS (
      |  SELECT query_id, 1 AS step, [vec_id] AS picked, vec_id, rel AS mmr2 FROM base
      |  UNION ALL
      |  SELECT s.query_id, s.step + 1, list_append(s.picked, p.vec_id), p.vec_id, p.mmr2
      |  FROM sel s, LATERAL (
      |    SELECT cnd.vec_id,
      |      cnd.rel - (SELECT max(pr.sim) FROM prs pr
      |                 WHERE pr.query_id = s.query_id AND pr.a = cnd.vec_id
      |                   AND list_contains(s.picked, pr.b)) AS mmr2
      |    FROM sl cnd
      |    WHERE cnd.query_id = s.query_id AND NOT list_contains(s.picked, cnd.vec_id)
      |    ORDER BY mmr2 DESC, cnd.vec_id LIMIT 1) p
      |  WHERE s.step < $MMR_K)
      |SELECT query_id, CAST(step AS INT) AS step, vec_id, mmr2
      |FROM sel ORDER BY query_id, step""".stripMargin

  // ---------------------------------------------- s14 matryoshka recall
  /** Prefix width evaluated by s14 (16 of 64 dims = a 4× cheaper
    * first-stage scorer).
    */
  val MRL_DIMS = 16

  /** s14: matryoshka-truncation recall (Kusupati et al. 2022, MRL) — how
    * much of the exact top-k survives when cosine is scored on only the
    * first [[MRL_DIMS]] embedding dimensions. THE deployment question
    * for prefix-truncatable embeddings: a d/4 prefix means 4× less
    * memory bandwidth and ALU in the first retrieval stage, and this
    * key measures exactly what that costs, per query — the same
    * harness-not-model stance as s10 (the eval is correct whether or
    * not the embeddings were MRL-trained).
    *
    * Shape: ONE corpus scan computes both the full and the truncated
    * quantized dots against broadcast queries; both rankings come off
    * the SAME (query_id) window exchange (two sorts, one shuffle), and
    * recall@k is a per-query conditional count — no self-join of the
    * two rankings, because every pair row carries both ranks.
    */
  def matryoshkaRecall(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10): DataFrame =
    matryoshkaRecallFrom(Tables.embeddings(s, d), nQueries, k)

  /** s14 over any (vec_id, embedding) frame (spec-injectable face). */
  private[graft] def matryoshkaRecallFrom(e: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    def proj(df: DataFrame) = df.select(col("vec_id"),
      quantize(col("embedding")).as("v"),
      quantize(slice(col("embedding"), 1, MRL_DIMS)).as("t"))
    val q = proj(e.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("t").as("qt"))
    val c = proj(e.filter(col("vec_id") >= nQueries))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_full").desc, col("vec_id"))
    val wt = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_trunc").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .withColumn("cos_full", qcosine(col("qv"), col("v")))
      .withColumn("cos_trunc", qcosine(col("qt"), col("t")))
      .withColumn("rf", row_number().over(wf))
      .withColumn("rt", row_number().over(wt))
      .groupBy("query_id")
      .agg(sum(when(col("rf") <= k && col("rt") <= k, 1L).otherwise(0L))
        .as("hits"))
      .withColumn("recall", col("hits").cast("double") / lit(k))
      .select("query_id", "hits", "recall")
      .orderBy("query_id")
  }

  /** s14 oracle: identical quantization, prefix slice, cosine chain and
    * double ranking.
    */
  val matryoshkaRecallSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS qv,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
      |     FOR x IN embedding[1:$MRL_DIMS]] AS qt
      |  FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS v,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
      |     FOR x IN embedding[1:$MRL_DIMS]] AS t
      |  FROM embeddings WHERE vec_id >= 5),
      |sc AS (SELECT q.query_id, c.vec_id,
      |    CAST(list_sum([qv[i] * v[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([qv[i] * qv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([v[i] * v[i] FOR i IN range(1, 65)]) AS DOUBLE))) AS cf,
      |    CAST(list_sum([qt[i] * t[i] FOR i IN range(1, ${MRL_DIMS + 1})]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([qt[i] * qt[i] FOR i IN range(1, ${MRL_DIMS + 1})]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([t[i] * t[i] FOR i IN range(1, ${MRL_DIMS + 1})]) AS DOUBLE))) AS ct
      |  FROM c CROSS JOIN q),
      |r AS (SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cf DESC, vec_id) AS rf,
      |    row_number() OVER (PARTITION BY query_id ORDER BY ct DESC, vec_id) AS rt
      |  FROM sc)
      |SELECT query_id,
      |  CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      |  CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall
      |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin

  // ---------------------------------------------------- s15 ANN deletion
  /** Deterministic deletion slice for the s15 key: every 17th vector,
    * offset 3.
    */
  val ANN_DEL_MOD = 17L
  val ANN_DEL_RES = 3L

  /** s15: deletion-aware ANN serving — the s09 IVF-PQ ranking with a
    * tombstoned id set excluded BEFORE the top-k, so results backfill
    * from survivors instead of leaving holes. The right-to-be-forgotten
    * semantics every production vector store needs: the MODEL stays
    * frozen (centroids/codebook were trained with the deleted vectors —
    * deletion never invalidates codes, which remain argmins against the
    * model that encoded them), only the candidate set shrinks.
    */
  def ivfPqDeleteTopK(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    ivfPqAdcScores(s, d, nQueries)
      .filter(expr(s"vec_id % $ANN_DEL_MOD != $ANN_DEL_RES"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** s15 oracle: the s09 CTE chain with the deletion slice filtered out
    * of the scored set before re-ranking.
    */
  lazy val ivfPqDeleteTopKSql: String =
    s"""$ivfPqCtes
      |SELECT query_id, CAST(drank AS INT) AS rank, vec_id, adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc, vec_id) AS drank
      |  FROM adc WHERE vec_id % $ANN_DEL_MOD <> $ANN_DEL_RES)
      |WHERE drank <= 10 ORDER BY query_id, rank""".stripMargin

  // ----------------------------------------------------- s16 kNN hubness
  /** s16: exact kNN-graph construction + hubness/reciprocity diagnostic.
    * Builds the k=5 cosine kNN graph over the embedding corpus and emits,
    * per node: IN-degree (how many nodes list it among their k nearest —
    * the hubness measure; a heavy-tailed in-degree distribution is the
    * classic symptom of degraded embedding geometry and of ANN recall
    * loss), mutual-edge count (i∈knn(j) ∧ j∈knn(i) — the edges
    * SemDeDup-style clustering and NN-descent/HNSW graph builds actually
    * keep), and the single nearest neighbor with its exact quantized
    * cosine.
    *
    * This is the truth/diagnostic face: exact kNN is inherently
    * quadratic, so at 100 TB it runs over a deterministic sample (the
    * d19 sampling discipline) to MEASURE hubness, while production graph
    * construction uses the s02/s03 bucketed candidate structures. Shape:
    * one broadcast of the node set against the corpus scan (no shuffled
    * cross join), per-node top-k windows over n·k… n·|bcast| rows, then
    * the n·k edge list is localCheckpointed ONCE — the nn/in-degree/
    * mutual faces all read the materialized edges instead of re-running
    * the pair scan (the g02 shared-subtree lesson); the mutual face is a
    * self-equi-join on (src,dst), never pairs².
    */
  def knnHubness(s: SparkSession, d: String, k: Int = 5): DataFrame =
    knnHubnessFrom(Tables.embeddings(s, d), k)

  /** s16 over any (vec_id, embedding) frame (spec-injectable face). */
  private[graft] def knnHubnessFrom(e: DataFrame, k: Int): DataFrame = {
    val nodes = e.select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(qdot(col("v"), col("v")).cast("double")))
    val left = nodes.select(col("vec_id").as("src"), col("v").as("sv"),
      col("nrm").as("snrm"))
    val right = nodes.select(col("vec_id").as("dst"), col("v").as("dv"),
      col("nrm").as("dnrm"))
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    val edges = left.crossJoin(broadcast(right))
      .filter(col("src") =!= col("dst"))
      .withColumn("cosine",
        qdot(col("sv"), col("dv")).cast("double") / (col("snrm") * col("dnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("cosine"), col("rank"))
      .localCheckpoint() // n·k rows; read 3× below — never re-scan pairs
    val nn = edges.filter(col("rank") === 1)
      .select(col("src").as("vec_id"), col("dst").as("nn_id"),
        col("cosine").as("nn_cos"))
    val indeg = edges.groupBy(col("dst").as("vec_id"))
      .agg(count(lit(1)).as("in_deg"))
    val mutual = edges.as("a")
      .join(edges.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .groupBy(col("a.src").as("vec_id"))
      .agg(count(lit(1)).as("n_mutual"))
    nn.join(indeg, Seq("vec_id"), "left")
      .join(mutual, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        col("nn_id"), col("nn_cos"))
      .orderBy("vec_id")
  }

  /** s16 oracle: the same quantized-integer cosine pair ranking; edges is
    * multiply referenced so it is pinned MATERIALIZED (the g02 DuckDB
    * re-inlining lesson).
    */
  val knnHubnessSql: String =
    """WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |        sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm FROM v),
      |pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |edges AS MATERIALIZED (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
      |    FROM pairs) WHERE rank <= 5),
      |nn AS (SELECT src AS vec_id, dst AS nn_id, cosine AS nn_cos FROM edges WHERE rank = 1),
      |ind AS (SELECT dst AS vec_id, count(*) AS in_deg FROM edges GROUP BY 1),
      |mut AS (SELECT a.src AS vec_id, count(*) AS n_mutual
      |        FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src GROUP BY 1)
      |SELECT nn.vec_id, CAST(coalesce(ind.in_deg, 0) AS BIGINT) AS in_deg,
      |  CAST(coalesce(mut.n_mutual, 0) AS BIGINT) AS n_mutual,
      |  nn.nn_id, nn.nn_cos
      |FROM nn LEFT JOIN ind ON ind.vec_id = nn.vec_id
      |LEFT JOIN mut ON mut.vec_id = nn.vec_id
      |ORDER BY nn.vec_id""".stripMargin

  // ------------------------------------ s20 sampled hubness (production)
  /** Fixed-size deterministic sample for [[knnHubnessSampled]]: the
    * hash-ordered first [[HUBNESS_SAMPLE_CAP]] ids. A CAP, not a 1-in-N
    * rate, so the quadratic kernel's cost is CONSTANT in corpus size —
    * the measured scaling exponent of s20 is the linear scan's, not the
    * pair loop's.
    */
  val HUBNESS_SAMPLE_CAP = 256

  /** s20: the production face of the s16 hubness diagnostic — the SAME
    * [[knnHubnessFrom]] kernel fed a deterministic fixed-size sample
    * (first [[HUBNESS_SAMPLE_CAP]] ids by the cross-engine md5 hash60
    * order — pseudo-random but reproducible, the d19 bounded-truth
    * discipline). s16 stays the registered exact-truth face for small
    * diagnostics; THIS is the key a 100 TB deployment schedules: hubness
    * and reciprocity are distribution-shape statistics, estimated as
    * well from a fixed random sample as from the full corpus, and the
    * sample bound turns the O(n²) kernel into O(cap²) + one linear scan
    * (`orderBy(hash).limit(cap)` plans as TakeOrderedAndProject — a
    * per-partition top-cap fold, never a full sort shuffle).
    */
  def knnHubnessSampled(s: SparkSession, d: String, k: Int = 5): DataFrame =
    knnHubnessFrom(
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          Dedup.baseHash(col("vec_id").cast("string")).as("hs"))
        .orderBy(col("hs"), col("vec_id")).limit(HUBNESS_SAMPLE_CAP)
        .drop("hs"),
      k)

  /** s20 oracle: identical hash-ordered sample (DuckDB's md5-prefix
    * mirror of [[Dedup.baseHash]]), then the s16 pipeline body over it.
    */
  val knnHubnessSampledSql: String =
    """WITH smp AS MATERIALIZED (
      |  SELECT vec_id, embedding FROM embeddings
      |  ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 256),
      |v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM smp),
      |n AS (SELECT vec_id, qv,
      |        sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm FROM v),
      |pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |edges AS MATERIALIZED (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
      |    FROM pairs) WHERE rank <= 5),
      |nn AS (SELECT src AS vec_id, dst AS nn_id, cosine AS nn_cos FROM edges WHERE rank = 1),
      |ind AS (SELECT dst AS vec_id, count(*) AS in_deg FROM edges GROUP BY 1),
      |mut AS (SELECT a.src AS vec_id, count(*) AS n_mutual
      |        FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src GROUP BY 1)
      |SELECT nn.vec_id, CAST(coalesce(ind.in_deg, 0) AS BIGINT) AS in_deg,
      |  CAST(coalesce(mut.n_mutual, 0) AS BIGINT) AS n_mutual,
      |  nn.nn_id, nn.nn_cos
      |FROM nn LEFT JOIN ind ON ind.vec_id = nn.vec_id
      |LEFT JOIN mut ON mut.vec_id = nn.vec_id
      |ORDER BY nn.vec_id""".stripMargin

  // --------------------------------------- p19 cluster-balanced sampling
  /** p19: cluster-balanced (diversity) sampling — the SemDeDup-companion
    * curation step: admit a fixed fraction (1/4) of every k-means cell
    * rather than of the corpus, so dense embedding modes cannot crowd
    * rare ones out of the training mix. Cells are the s03 deterministic
    * centroid build (frozen-model discipline — at 100 TB the cell id is
    * the stored write-time partition key, so this op never re-scores);
    * within a cell the admission order is the cross-engine md5 hash of
    * the id (deterministic pseudo-random, not ingestion order), quota =
    * ceil(|cell|/4). Emits per cell: population, quota, admitted count,
    * admitted-id checksum, and admitted label diversity.
    *
    * Shape: the p19 face of [[indexHealthFaces]] over
    * [[cellAssignments]] (one corpus scan, kernel-ranked cells), a
    * per-cell rank window (bounded by the cell population), and a
    * |cells|-row aggregate. Nothing quadratic, nothing unpartitioned.
    */
  def clusterQuotaSample(s: SparkSession, d: String): DataFrame =
    indexHealthFaces(cellAssignments(s, d))._3

  /** p19 oracle: the s03 cell-assignment CTEs over the full corpus plus
    * the same md5 admission order and ceil-quota arithmetic.
    */
  val clusterQuotaSampleSql: String =
    """WITH v AS (SELECT vec_id, label, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS cv FROM embeddings),
      |cents AS (SELECT cell, cv AS centroid FROM (
      |  SELECT vec_id, cv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= 16),
      |assigned AS (SELECT vec_id, label, cell FROM (
      |  SELECT c.vec_id, c.label, cents.cell,
      |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |      CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM v c CROSS JOIN cents) WHERE r = 1),
      |ranked AS (SELECT vec_id, label, cell,
      |    count(*) OVER (PARTITION BY cell) AS cell_n,
      |    row_number() OVER (PARTITION BY cell ORDER BY
      |      CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS rk
      |  FROM assigned),
      |q AS (SELECT *, (cell_n + 3) // 4 AS quota FROM ranked)
      |SELECT cell, CAST(max(cell_n) AS BIGINT) AS n_total,
      |  CAST(max(quota) AS BIGINT) AS quota,
      |  CAST(count(CASE WHEN rk <= quota THEN 1 END) AS BIGINT) AS n_admitted,
      |  CAST(sum(CASE WHEN rk <= quota THEN vec_id END) AS BIGINT) AS admitted_id_sum,
      |  CAST(count(DISTINCT CASE WHEN rk <= quota THEN label END) AS BIGINT) AS n_labels
      |FROM q GROUP BY cell ORDER BY cell""".stripMargin

  // ----------------------------------------------- s17 IVF index health
  /** s17: IVF quantizer-health / drift report — the "when do we retrain
    * the coarse quantizer" diagnostic every IVF deployment monitors. Per
    * cell of the s03 index geometry: population, imbalance (pop ·
    * N_CELLS · 10^6 div corpus — 10^6 ppm ⇔ perfectly balanced; the
    * probe-cost ceiling is max imbalance, since a probe scans its cells'
    * actual populations), and the mean/max per-vector quantization error
    * against the assigned centroid. Rising SSE or imbalance over
    * ingest deltas is the retrain trigger; both are exact integers here.
    *
    * The squared L2 never materializes a difference array: ‖v−c‖² =
    * v·v − 2·v·c + c·c, three codegen [[qdot]]s on the already-quantized
    * components, then div 64 (per-dimension mean) so per-cell long sums
    * hold headroom past 10^5 vectors/cell at unit-norm 10^6 quantization.
    *
    * Scale shape: the s17 face of [[indexHealthFaces]] over
    * [[cellAssignments]] — ONE corpus scan, kernel-ranked cells, the
    * own-cell SSE from the per-vector fold, and a
    * ≤[[N_CELLS]]-row hash aggregate; the corpus total rides the same
    * aggregate output via a broadcast 1-row grand total (no second scan,
    * no unpartitioned window). At 100 TB the cell id is the stored
    * write-time partition key, so the scan reads cell-local partitions
    * and the report is delta-mergeable (sums and max re-aggregate).
    */
  def ivfDrift(s: SparkSession, d: String): DataFrame =
    indexHealthFaces(cellAssignments(s, d))._1

  /** s17 oracle: the p19 assignment CTEs carrying the three dot products,
    * identical div-64 / div-n integer arithmetic.
    */
  val ivfDriftSql: String =
    """WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS cv FROM embeddings),
      |cents AS (SELECT cell, cv AS centroid FROM (
      |  SELECT vec_id, cv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= 16),
      |assigned AS (SELECT cell, (vv - 2 * vc + cc) // 64 AS msse FROM (
      |  SELECT c.vec_id, cents.cell,
      |    CAST(list_sum([c.cv[i]*c.cv[i] FOR i IN range(1,65)]) AS BIGINT) AS vv,
      |    CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS BIGINT) AS vc,
      |    CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS BIGINT) AS cc,
      |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |      CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM v c CROSS JOIN cents) WHERE r = 1),
      |pc AS (SELECT cell, count(*) AS n_vecs,
      |         CAST(sum(msse) AS BIGINT) // count(*) AS mean_msse,
      |         max(msse) AS max_msse
      |       FROM assigned GROUP BY cell),
      |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_corpus FROM pc)
      |SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  (CAST(n_vecs AS BIGINT) * 16 * 1000000) // n_corpus AS imbalance_ppm,
      |  CAST(mean_msse AS BIGINT) AS mean_msse,
      |  CAST(max_msse AS BIGINT) AS max_msse
      |FROM pc CROSS JOIN tot ORDER BY cell""".stripMargin

  // ------------------------------------------- s18 clustering silhouette
  /** s18: simplified-silhouette clustering quality — the standard "are
    * these cells real clusters" eval (Rousseeuw 1987; the centroid-based
    * simplified form is the one that scales, used to pick k and to judge
    * SemDeDup/IVF cell quality). Per point: a = L2 distance to its OWN
    * centroid, b = the nearest OTHER centroid, s = (b−a)/max(a,b) ∈
    * [−1,1]; per cell we report the mean and the worst point. Negative
    * means flag cells whose members sit closer to a neighboring centroid
    * — the same retrain trigger s17 reads from error mass, but in the
    * cluster-separation currency.
    *
    * Determinism: squared distances are exact integers (the s17
    * three-qdot identity); each point's silhouette goes through ONE fixed
    * IEEE chain (sqrt,sqrt,−,/, +1, ×1000, floor — both engines
    * exact-rounded) into a shifted integer milli-score, so per-cell sums
    * are shuffle-order independent and the −1000 shift-back happens
    * after the integer mean. Means use `div` on NON-NEGATIVE shifted
    * sums only (Spark div truncates toward zero, DuckDB // floors — they
    * agree only on non-negatives, so no negative ever reaches a div).
    *
    * Scale shape: the s18 face of [[indexHealthFaces]] over the same
    * [[cellAssignments]] frame as s17/p19 — the per-(point,centroid)
    * rows never leave their scan partition before the map-side-combined
    * (vec_id) aggregate; then a ≤[[N_CELLS]]-row aggregate.
    * Silhouette's pairwise-exact form is corpus² and is
    * exactly what the simplified form exists to avoid.
    */
  def silhouette(s: SparkSession, d: String): DataFrame =
    indexHealthFaces(cellAssignments(s, d))._2

  /** s18 oracle: identical assignment, three-dot SSE, and the single
    * IEEE silhouette chain in the same operation order.
    */
  val silhouetteSql: String =
    """WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS cv FROM embeddings),
      |cents AS (SELECT cell, cv AS centroid FROM (
      |  SELECT vec_id, cv, row_number() OVER (ORDER BY vec_id) AS cell
      |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= 16),
      |scored AS (SELECT c.vec_id, cents.cell,
      |    CAST(list_sum([c.cv[i]*c.cv[i] FOR i IN range(1,65)]) AS BIGINT)
      |      - 2 * CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS BIGINT)
      |      + CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS BIGINT) AS sse,
      |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |      CAST(list_sum([c.cv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
      |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
      |  FROM v c CROSS JOIN cents),
      |pp AS (SELECT vec_id,
      |    max(CASE WHEN r = 1 THEN cell END) AS cell,
      |    max(CASE WHEN r = 1 THEN sse END) AS a2,
      |    min(CASE WHEN r > 1 THEN sse END) AS b2
      |  FROM scored GROUP BY vec_id),
      |sil AS (SELECT cell,
      |    CASE WHEN greatest(a2, b2) = 0 THEN 1000
      |         ELSE CAST(floor(1000.0 *
      |           ((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) /
      |             greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) + 1.0)) AS BIGINT)
      |    END AS s_shift
      |  FROM pp)
      |SELECT cell, count(*) AS n_vecs,
      |  (CAST(sum(s_shift) AS BIGINT) // count(*)) - 1000 AS mean_sil_milli,
      |  CAST(min(s_shift) - 1000 AS BIGINT) AS min_sil_milli
      |FROM sil GROUP BY cell ORDER BY cell""".stripMargin

  // ----------------------------------- amortized index-health report face
  /** The PRODUCTION face of the s17/s18/p19 trio (the p11/d21
    * amortization discipline): all three read the same
    * [[cellAssignments]] frame, so a monitoring job that runs them as
    * registered keys pays that scan three times. Here the per-vector
    * (vec_id, label, cell, a2, b2) frame — the superset every face
    * needs — is materialized ONCE (localCheckpoint; n thin rows), and
    * the drift report, silhouette report, and quota sample all read it.
    * Spec-pinned row-for-row ≡ the three registered keys.
    *
    * At 100 TB the same amortization holds with the checkpoint replaced
    * by the stored cell assignment (the write-time partition key the
    * s03 index already persists): the faces then share that table
    * instead of a recomputed frame — zero assignment scans, not one.
    */
  def indexHealthReport(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    // the ONE shared assignment materialization
    indexHealthFaces(cellAssignments(s, d).localCheckpoint(true))

  /** The per-vector cell-assignment frame every health face consumes:
    * (vec_id, label, cell, a2 = squared distance to the OWN centroid,
    * b2 = squared distance to the nearest OTHER centroid) — one thin
    * row per vector: `cell` from [[assignToCells]], a2/b2 from one
    * corpus × broadcast-centroid SSE scan folded per vector.
    * This is the frame [[writeCellAssignments]] persists: it is the
    * whole information content the s17/s18/p19 faces need, at 1/N_CELLS
    * the size of the raw scored pairs.
    */
  private[graft] def cellAssignments(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"), col("label"))
    cellAssignmentsOf(corpus, seedCentroids(corpus))
  }

  /** [[cellAssignments]] over any (vec_id, qv, label) corpus and model. */
  private[graft] def cellAssignmentsOf(corpus: DataFrame, cents: DataFrame)
      : DataFrame =
    // b2 needs EVERY other centroid: one broadcast crossJoin, folded back
    // to one row per vector by a map-side-combined aggregate
    assignToCells(corpus, cents)
      .crossJoin(broadcast(cents.withColumnRenamed("cell", "c")))
      .withColumn("sse", qdot(col("qv"), col("qv")) -
        lit(2L) * qdot(col("qv"), col("centroid")) + qdot(col("centroid"), col("centroid")))
      .groupBy("vec_id", "label", "cell")
      .agg(max(when(col("c") === col("cell"), col("sse"))).as("a2"),
        min(when(col("c") =!= col("cell"), col("sse"))).as("b2"))

  /** The three health faces off a (vec_id, label, cell, a2, b2) frame —
    * shared by the checkpoint-backed [[indexHealthReport]] and the
    * persisted-store read path (zero assignment scans there).
    */
  private[graft] def indexHealthFaces(perVec: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // ---- s17 face: a2 IS (vv - 2vc + cc) of the own cell
    val assigned1 = perVec.withColumn("msse", expr("a2 div 64"))
    val perCell = assigned1.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(msse) div count(1)").as("mean_msse"),
        max(col("msse")).as("max_msse"))
    val drift = perCell
      .crossJoin(broadcast(perCell.agg(sum(col("n_vecs")).as("n_corpus"))))
      .select(col("cell"), col("n_vecs"),
        expr(s"(n_vecs * $N_CELLS * 1000000) div n_corpus").as("imbalance_ppm"),
        col("mean_msse"), col("max_msse"))
      .orderBy("cell")
    // ---- s18 face
    val sil = perVec
      .select(col("cell"),
        when(greatest(col("a2"), col("b2")) === 0, lit(1000L))
          .otherwise(floor(lit(1000.0) *
            ((sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
              greatest(sqrt(col("a2").cast("double")),
                sqrt(col("b2").cast("double"))) + lit(1.0))).cast("long"))
          .as("s_shift"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        (expr("sum(s_shift) div count(1)") - lit(1000L)).as("mean_sil_milli"),
        (min(col("s_shift")) - lit(1000L)).as("min_sil_milli"))
      .orderBy("cell")
    // ---- p19 face
    val wCell = Window.partitionBy(col("cell"))
    val wRank = Window.partitionBy(col("cell")).orderBy(col("h"), col("vec_id"))
    val quota = perVec
      .select(col("vec_id"), col("label"), col("cell"))
      .withColumn("h", graft.operators.Dedup.baseHash(col("vec_id").cast("string")))
      .withColumn("cell_n", count(lit(1)).over(wCell))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("quota", expr("(cell_n + 3) div 4"))
      .groupBy(col("cell"))
      .agg(max(col("cell_n")).as("n_total"),
        max(col("quota")).as("quota"),
        count(when(col("rk") <= col("quota"), 1)).as("n_admitted"),
        sum(when(col("rk") <= col("quota"), col("vec_id"))).as("admitted_id_sum"),
        count_distinct(when(col("rk") <= col("quota"), col("label")))
          .as("n_labels"))
      .orderBy("cell")
    (drift, sil, quota)
  }

  /** Persist the cell-assignment table beside an index (cell-partitioned,
    * the same write-time key the IVF code/vector tables use) — the
    * executable form of "at 100 TB the checkpoint becomes the stored
    * cell assignment": monitoring faces then read THIS table and never
    * re-scan or re-score the corpus. Frozen-model discipline applies —
    * assignments stay valid until the centroids are retrained, at which
    * point the index itself is rebuilt anyway.
    */
  def writeCellAssignments(s: SparkSession, d: String, dir: String): Unit =
    cellAssignments(s, d)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** The three health faces served from a persisted assignment store —
    * zero corpus scans, zero centroid broadcasts, no window over
    * anything larger than a cell.
    */
  def indexHealthReportFromStore(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    indexHealthFaces(s.read.parquet(dir))

  /** p22: the registered (thus bench-priced) face of
    * [[indexHealthReport]] — the three reports as ONE long-format
    * (facet, cell, metric, value) frame, all from the single shared
    * assignment materialization. The oracle wraps the three existing
    * (green) oracle queries verbatim, so p22 re-asserts s17/s18/p19's
    * values while the bench prices the amortization (one assignment
    * pass instead of three).
    */
  def indexHealth(s: SparkSession, d: String): DataFrame =
    healthLong(indexHealthReport(s, d))

  private def healthLong(faces: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (drift, sil, quota) = faces
    def long(f: String, df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(lit(f).as("facet"), col("cell").cast("long").as("cell"),
        explode(array(cols.map(c =>
          struct(lit(c).as("metric"), col(c).cast("long").as("value"))): _*))
          .as("m"))
        .select(col("facet"), col("cell"), col("m.metric"), col("m.value"))
    long("drift", drift, Seq("n_vecs", "imbalance_ppm", "mean_msse", "max_msse"))
      .unionByName(long("silhouette", sil,
        Seq("n_vecs", "mean_sil_milli", "min_sil_milli")))
      .unionByName(long("quota", quota,
        Seq("n_total", "quota", "n_admitted", "admitted_id_sum", "n_labels")))
      .orderBy("facet", "cell", "metric")
  }

  /** p23: the STORED-assignment face of p22 — same long-format report,
    * served entirely from the persisted cell-assignment table (built
    * once per corpus into a deterministic temp dir; the untimed bench
    * warmup pass absorbs the build, so the timed reps price exactly
    * what a production monitoring job pays: a read of one thin
    * cell-partitioned table, zero corpus scans). Oracle = p22's (same
    * output contract), so the store round-trip is hash-checked.
    */
  def indexHealthFromStore(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      "graft_cellassign_" + java.lang.Long.toHexString(
        graft.expressions.Md5Hash.hash60(
          d.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    // commit-marker check, not bare existence: a crash-interrupted build
    // must rebuild, never serve a truncated assignment table
    if (!committed(dir.toString)) writeCellAssignments(s, d, dir.toString)
    healthLong(indexHealthReportFromStore(s, dir.toString))
  }

  /** p22 oracle: the three green oracles verbatim, unpivoted. */
  lazy val indexHealthSql: String = {
    def facet(f: String, body: String, cols: Seq[String]): String =
      cols.map(c =>
        s"SELECT '$f' AS facet, CAST(cell AS BIGINT) AS cell, '$c' AS metric, CAST($c AS BIGINT) AS value FROM ${f}_t")
        .mkString("\nUNION ALL\n")
    s"""WITH drift_t AS MATERIALIZED (${ivfDriftSql}),
      |silhouette_t AS MATERIALIZED (${silhouetteSql}),
      |quota_t AS MATERIALIZED (${clusterQuotaSampleSql})
      |${facet("drift", "", Seq("n_vecs", "imbalance_ppm", "mean_msse", "max_msse"))}
      |UNION ALL
      |${facet("silhouette", "", Seq("n_vecs", "mean_sil_milli", "min_sil_milli"))}
      |UNION ALL
      |${facet("quota", "", Seq("n_total", "quota", "n_admitted", "admitted_id_sum", "n_labels"))}
      |ORDER BY facet, cell, metric""".stripMargin
  }

  // --------------------------------------------- s19 hybrid rank fusion
  /** s19: reciprocal-rank fusion (Cormack et al. 2009) of two retrievers
    * — the hybrid-search primitive every production vector store ships
    * (Elastic/OpenSearch/Weaviate "hybrid"): fuse the exact cosine
    * ranking (s01) with the IVF-PQ ADC ranking (s09) per query as
    * Σ 1/(60+rank), here in exact integers floor(10⁹/(60+rank)) so the
    * fused order is engine-stable with zero float accumulation. Output
    * carries membership flags per retriever — the triage column that
    * shows WHERE the approximate index disagrees with exact search
    * (complementing s10's recall scalar with per-candidate evidence).
    *
    * Scale shape: the fusion itself touches only the two shortlists
    * (≤ queries × 20 rows each — a broadcastable full-outer join and a
    * per-query window); ALL the data-mass work lives in the retrievers,
    * which keep their own audited shapes (s01 one scan × broadcast
    * queries; s09 pruned-cell probe × broadcast LUT). RRF never looks at
    * scores, only ranks, so fusing retrievers with incomparable score
    * scales (cosine vs ADC distance) is sound by construction.
    */
  def rrfFusion(s: SparkSession, d: String, nQueries: Int = 5,
      kIn: Int = 20, kOut: Int = 10): DataFrame = {
    val exact = cosineTopKFrom(Tables.embeddings(s, d), nQueries, kIn)
      .select(col("query_id"), col("vec_id"),
        expr("1000000000L div (60 + rank)").as("c_exact"))
    val adc = ivfPqRanked(s, d, nQueries, kIn)
      .select(col("query_id"), col("vec_id"),
        expr("1000000000L div (60 + rank)").as("c_adc"))
    val fused = exact.join(adc, Seq("query_id", "vec_id"), "full_outer")
      .select(col("query_id"), col("vec_id"),
        (coalesce(col("c_exact"), lit(0L)) + coalesce(col("c_adc"), lit(0L)))
          .as("rrf_e9"),
        when(col("c_exact").isNotNull, 1L).otherwise(0L).as("in_exact"),
        when(col("c_adc").isNotNull, 1L).otherwise(0L).as("in_adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_e9").desc, col("vec_id"))
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= kOut)
      .select("query_id", "fused_rank", "vec_id", "rrf_e9",
        "in_exact", "in_adc")
      .orderBy("query_id", "fused_rank")
  }

  /** s19 oracle: the s09 chain verbatim (the s10/s11 sharing discipline)
    * plus the s01 cosine ranking, fused with identical integer RRF.
    */
  lazy val rrfFusionSql: String =
    s"""$ivfPqCtes,
      |dots AS (SELECT q.query_id, c.vec_id,
      |    CAST(list_sum([q.qv[i] * c.qv[i] FOR i IN range(1, 65)]) AS DOUBLE) /
      |      (sqrt(CAST(list_sum([q.qv[i] * q.qv[i] FOR i IN range(1, 65)]) AS DOUBLE)) *
      |       sqrt(CAST(list_sum([c.qv[i] * c.qv[i] FOR i IN range(1, 65)]) AS DOUBLE))) AS cosine
      |  FROM corpus c CROSS JOIN q),
      |exr AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      |          ORDER BY cosine DESC, vec_id) AS rank FROM dots),
      |ce AS (SELECT query_id, vec_id, 1000000000 // (60 + rank) AS c_exact
      |       FROM exr WHERE rank <= 20),
      |ca AS (SELECT query_id, vec_id, 1000000000 // (60 + rank) AS c_adc
      |       FROM ranked WHERE rank <= 20),
      |fused AS (SELECT coalesce(ce.query_id, ca.query_id) AS query_id,
      |    coalesce(ce.vec_id, ca.vec_id) AS vec_id,
      |    coalesce(c_exact, 0) + coalesce(c_adc, 0) AS rrf_e9,
      |    CASE WHEN c_exact IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
      |    CASE WHEN c_adc IS NOT NULL THEN 1 ELSE 0 END AS in_adc
      |  FROM ce FULL OUTER JOIN ca
      |    ON ce.query_id = ca.query_id AND ce.vec_id = ca.vec_id),
      |fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |         ORDER BY rrf_e9 DESC, vec_id) AS fused_rank FROM fused)
      |SELECT query_id, CAST(fused_rank AS INT) AS fused_rank, vec_id,
      |  CAST(rrf_e9 AS BIGINT) AS rrf_e9,
      |  CAST(in_exact AS BIGINT) AS in_exact,
      |  CAST(in_adc AS BIGINT) AS in_adc
      |FROM fr WHERE fused_rank <= 10 ORDER BY query_id, fused_rank"""
      .stripMargin

  // ------------------------------------------------------- kNN graph
  /** Neighbors per node in the [[knnGraph]] edge list. */
  val KNN_GRAPH_K = 5

  /** s21: approximate kNN-graph construction — the edge list underneath
    * graph-based ANN serving (HNSW/NSG base layers), SemDeDup-style
    * cluster pruning, and label-propagation over embedding space (the
    * g-family consumes exactly this shape). Every vector ranks the other
    * members of its IVF cell by exact-integer cosine and keeps its top
    * [[KNN_GRAPH_K]]; cell residency comes from the shared s03/s04/s05
    * centroid build, so the graph is consistent with every other
    * IVF-derived face in the family.
    *
    * Scale shape: candidates come from EQUALITY on cell — never an
    * all-pairs product. The self-join is a shuffle on cell (at 100 TB,
    * cell is a write-time partition column, the s03 layout, which makes
    * it partition-local), and per-cell cost is |cell|² with |cell|
    * bounded by the k-means build (k ~ sqrt(N) cells
    * keeps |cell| ~ sqrt(N), so total work is N^1.5 / k — the standard
    * clustered kNN-graph construction bound, tunable via the cell count).
    * The top-k window partitions by src (never unpartitioned); centroids
    * ride a broadcast.
    */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphFrom(Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv")))

  /** s21 over any (vec_id, qv) corpus (spec-injectable face). */
  private[graft] def knnGraphFrom(corpus: DataFrame): DataFrame = {
    val resident = assignToCells(corpus, seedCentroids(corpus))
    knnProbeEdges(resident, resident, KNN_GRAPH_K).orderBy("src", "rank")
  }

  /** Shared kNN edge builder: every probe-side vector ranks the
    * candidate-side residents of its probe cell(s) by exact-integer
    * cosine and keeps its top k. Both inputs are assignToCells outputs
    * ((vec_id, qv, cell), possibly multi-row per vec_id on the probe
    * side for nProbe > 1); a (src, dst) pair can only surface in dst's
    * ONE resident cell, so no cross-probe dedup is ever needed. The
    * top-k window partitions by src.
    */
  private[graft] def knnProbeEdges(probe: DataFrame, resident: DataFrame,
      k: Int): DataFrame = {
    val a = probe.withColumn("nrm",
      sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val b = resident.withColumn("nrm",
      sqrt(qdot(col("qv"), col("qv")).cast("double")))
    a.as("a").join(b.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cosine",
        qdot(col("a.qv"), col("b.qv")).cast("double") /
          (col("a.nrm") * col("b.nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("a.vec_id"))
          .orderBy(col("cosine").desc, col("b.vec_id"))))
      .filter(col("rank") <= k)
      .select(col("a.vec_id").as("src"), col("rank").cast("int").as("rank"),
        col("b.vec_id").as("dst"), col("b.cell").cast("int").as("cell"),
        col("cosine"))
  }

  /** s21 oracle: same quantization, centroid build, residency tie-break
    * and per-src top-k (the kmeansStep no-plant cents CTE).
    */
  lazy val knnGraphSql: String =
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |cents AS (SELECT cell, qv AS centroid FROM (
       |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
       |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
       |assign AS (SELECT vec_id, qv, cell FROM (
       |  SELECT v.vec_id, v.qv, cents.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      CAST(list_sum([v.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
       |  FROM v CROSS JOIN cents) WHERE r = 1),
       |n AS (SELECT vec_id, sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm FROM assign),
       |e AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.cell,
       |    CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |      (na.nrm * nb.nrm) AS cosine
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id),
       |r AS (SELECT src, dst, cell, cosine,
       |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
       |  FROM e)
       |SELECT src, CAST(rank AS INT) AS rank, dst, CAST(cell AS INT) AS cell, cosine
       |FROM r WHERE rank <= $KNN_GRAPH_K ORDER BY src, rank""".stripMargin

  // ------------------------------------------- incremental kNN-graph
  /** Batch residue for [[incrementalKnn]]: vectors with vec_id ≡ 3
    * (mod 17) arrive AFTER the index build.
    */
  val KNN_BATCH_MOD = 17L
  val KNN_BATCH_RES = 3L

  /** s22: incremental kNN-graph maintenance — the d16/d17 discipline
    * applied to s21: the graph over the base corpus is built once; a
    * delta batch of new vectors is linked by PROBING the existing index
    * (assign each new vector to its [[N_PROBE_INC]] best cells against
    * the base centroids, rank only those cells' base residents), never
    * by rebuilding. Output: the new vectors' edge lists. Existing nodes'
    * neighbor lists are left stale until the periodic rebuild — the
    * standard serving trade-off, stated rather than hidden (a true
    * rebuild is s21 itself).
    *
    * Scale shape: the batch side is delta-sized; candidates come from
    * equality on the probed cell, so the probe touches |batch| ·
    * probe-cell residents — at 100 TB, cell is a write-time partition
    * column of the base (the s03 layout), so each micro-batch prunes to
    * its probed partitions and the base corpus is never rescanned. Centroids ride a broadcast;
    * the top-k window partitions by the delta's src.
    */
  val N_PROBE_INC = 2

  def incrementalKnn(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val base = corpus.filter(col("vec_id") % KNN_BATCH_MOD =!= KNN_BATCH_RES)
    val batch = corpus.filter(col("vec_id") % KNN_BATCH_MOD === KNN_BATCH_RES)
    val cents = seedCentroids(base)
    knnProbeEdges(assignToCells(batch, cents, N_PROBE_INC),
      assignToCells(base, cents), KNN_GRAPH_K).orderBy("src", "rank")
  }

  /** s22 oracle: same base/batch split, base-only centroid build,
    * 2-cell probe and per-new-vector top-k.
    */
  lazy val incrementalKnnSql: String =
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |base AS (SELECT * FROM v WHERE vec_id % $KNN_BATCH_MOD <> $KNN_BATCH_RES),
       |batch AS (SELECT * FROM v WHERE vec_id % $KNN_BATCH_MOD = $KNN_BATCH_RES),
       |cents AS (SELECT cell, qv AS centroid FROM (
       |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
       |  FROM base WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
       |resident AS (SELECT vec_id, qv, cell FROM (
       |  SELECT b.vec_id, b.qv, cents.cell,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |      CAST(list_sum([b.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
       |  FROM base b CROSS JOIN cents) WHERE r = 1),
       |probe AS (SELECT vec_id, qv, cell FROM (
       |  SELECT q.vec_id, q.qv, cents.cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      CAST(list_sum([q.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
       |  FROM batch q CROSS JOIN cents) WHERE r <= $N_PROBE_INC),
       |e AS (SELECT a.vec_id AS src, b.vec_id AS dst, b.cell,
       |    CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |      (sqrt(CAST(list_sum([a.qv[i]*a.qv[i] FOR i IN range(1,65)]) AS DOUBLE)) *
       |       sqrt(CAST(list_sum([b.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE))) AS cosine
       |  FROM probe a JOIN resident b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |r AS (SELECT src, dst, cell, cosine,
       |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
       |  FROM e)
       |SELECT src, CAST(rank AS INT) AS rank, dst, CAST(cell AS INT) AS cell, cosine
       |FROM r WHERE rank <= $KNN_GRAPH_K ORDER BY src, rank""".stripMargin

  // --------------------------------------- kNN-graph communities (g09)
  /** Propagation rounds for [[knnCommunities]]. */
  val KNN_COMM_ROUNDS = 4

  /** Seed nodes for the community propagation: the SAME vectors the
    * centroid build picks, keeping vec_id (label = their cell id).
    */
  private[graft] def seedNodes(corpus: DataFrame,
      nCells: Int = N_CELLS): DataFrame =
    corpus.filter(col("vec_id") % 31L === 6L &&
        col("vec_id") < PLANT_ID_OFFSET)
      .orderBy("vec_id").limit(nCells)
      .withColumn("label",
        row_number().over(Window.orderBy(col("vec_id"))).cast("long"))
      .select(col("vec_id").as("node"), col("label"))

  /** g09: communities over the kNN graph — label propagation (the g03
    * vote: most-frequent neighbor label, min-label ties, seeds pinned)
    * on the SYMMETRIZED 2-probe kNN edge list. With nProbe = 2 the
    * edges cross cell boundaries (a vector links into both of its two
    * best cells), so the communities are genuine mutual-neighbor
    * structure in embedding space — the graph-clustering face of
    * SemDeDup-style curation — not a restatement of cell residency;
    * n_cells per community measures exactly that spill. Unreached
    * vectors fold into the explicit −1 community (the g08 rule).
    *
    * Scale shape: edge construction is s21's (cell equi-join, broadcast
    * centroids); each of the [[KNN_COMM_ROUNDS]] rounds is one
    * edges⋈labels broadcast join + one dst-partitioned two-level vote
    * aggregate (the g03 iteration shape, including its ≥100M-node
    * co-partition escalation note); the rollup is ≤ cells+1 rows.
    */
  def knnCommunities(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    knnCommunitiesBody(emb, N_CELLS, emb.count())
  }

  /** g12: g09's PRODUCTION geometry — the cell count retrained to
    * k ~ √N. g09's fixed [[N_CELLS]] = 16 makes |cell| ~ N/16, so its
    * within-cell |cell|² candidate term is corpus-quadratic — the
    * documented reason its 100× bench run was cut after 45 min and its
    * scaling ledger carried a dash. The standard clustered-kNN-graph
    * answer (the s21 Scaladoc's own bound) is retraining the index at
    * k ~ √N cells: |cell| ~ √N, so candidates total N^1.5/k and the
    * 100× run becomes measurable — this key exists so that answer is a
    * REGISTERED, hash-oracled, three-scale-ledgered fact instead of a
    * prose note. Cell count = max([[N_CELLS]], ⌊√N⌋) from the parquet
    * footer count (free): the max keeps tiny corpora on g09's exact
    * geometry (at sf0.001 the mod-31 candidate pool itself caps the
    * build at 16 cells, mirrored by the oracle's row_number ≤ k), and
    * the floor(sqrt) is computed identically in the oracle's scalar
    * subquery, so the two engines can never train different ks.
    *
    * Everything downstream is g09's audited machinery verbatim —
    * seedCentroids/assignToCells (2-probe), the shared kNN edge
    * builder, [[graft.operators.Graph.lpaOn]]'s vote kernel with the
    * broadcast-ceiling dispatch, and the same ≤cells+1-row rollup.
    */
  def knnCommunitiesSqrt(s: SparkSession, d: String): DataFrame =
    knnCommunitiesOn(Tables.embeddings(s, d))

  /** g12 over any embeddings frame (spec-injectable face). */
  private[graft] def knnCommunitiesOn(emb: DataFrame): DataFrame = {
    val n = emb.count()
    knnCommunitiesBody(emb, sqrtCells(n), n)
  }

  /** The g12/s27 retrained geometry: max([[N_CELLS]], ⌊√N⌋) cells. */
  private[graft] def sqrtCells(n: Long): Int =
    math.max(N_CELLS, math.sqrt(n.toDouble).toInt)

  /** Shared g09/g12 body: the geometry (cell count) is the ONLY thing
    * the two keys decide differently.
    */
  private def knnCommunitiesBody(emb: DataFrame, nCells: Int,
      nCorpus: Long): DataFrame = {
    val corpus = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = seedCentroids(corpus, nCells)
    // ONE cell ranking, eagerly checkpointed, serves all three
    // consumers (round-17 optimization — guide §5 caching judgment, the
    // t29 shape): the 2-probe frame, its r = 1 residency prefix feeding
    // the edge builder, and the final rollup's residency — previously
    // THREE full assignToCells executions (the rollup's ran in its own
    // action, where no exchange reuse can reach). Materialization is
    // O(2N) thin rows against two saved rank passes.
    val asg2 = assignToCells(corpus, cents, 2, keepRank = true)
      .localCheckpoint(true)
    val resident = asg2.filter(col("r") === 1).drop("r")
    val kedges = knnProbeEdges(asg2.drop("r"), resident,
      KNN_GRAPH_K).select(col("src"), col("dst"))
    // lpaOn re-lays this by src itself if the graph crosses the
    // broadcast ceiling; below it the plain checkpoint is the plan
    val edges = kedges.union(kedges.select(col("dst").as("src"),
      col("src").as("dst"))).distinct().localCheckpoint(true)
    val seeds = seedNodes(corpus, nCells)
    // the g03 vote kernel itself (one implementation, Graph.lpaOn): per
    // round one edges⋈labels iterJoin — broadcast below the ~100M-node
    // ceiling, co-partitioned shuffle-hash above — + one dst-partitioned
    // two-level vote aggregate
    val labels = Graph.lpaOn(edges, seeds, rounds = KNN_COMM_ROUNDS,
      // dispatch bound: kNN-graph nodes ⊆ the corpus (footer count)
      nNodesHint = Some(nCorpus))
    resident.select(col("vec_id").as("node"), col("cell"))
      .join(labels, Seq("node"), "left")
      .select(col("node"), col("cell"), coalesce(col("label"), lit(-1L)).as("label"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("cell")).as("n_cells"),
        sum(col("node")).as("id_checksum"))
      .orderBy("label")
  }

  /** g09 oracle: the s21 2-probe edge CTEs symmetrized, then the g03
    * unrolled synchronous rounds and the residency rollup.
    */
  lazy val knnCommunitiesSql: String = {
    val round = (prev: String, k: Int) =>
      s"""n$k AS (SELECT e.dst AS node, l.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM edges e JOIN $prev l ON l.node = e.src GROUP BY e.dst, l.label),
         |v$k AS (SELECT node, label FROM n$k
         |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1),
         |l$k AS MATERIALIZED (
         |  SELECT v.node, v.label FROM v$k v
         |    LEFT JOIN seeds s ON s.node = v.node WHERE s.node IS NULL
         |  UNION ALL SELECT node, label FROM seeds)""".stripMargin
    val rounds = (1 to KNN_COMM_ROUNDS).map(k =>
      round(if (k == 1) "l0" else s"l${k - 1}", k)).mkString(",\n")
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |cents AS MATERIALIZED (SELECT cell, qv AS centroid FROM (
       |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
       |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
       |asg AS MATERIALIZED (SELECT vec_id, qv, cell, r FROM (
       |  SELECT v.vec_id, v.qv, cents.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      CAST(list_sum([v.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) DESC, cents.cell) AS r
       |  FROM v CROSS JOIN cents) WHERE r <= 2),
       |resident AS (SELECT vec_id, qv, cell FROM asg WHERE r = 1),
       |probe AS (SELECT vec_id, qv, cell FROM asg),
       |ke AS (SELECT src, dst FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        (sqrt(CAST(list_sum([a.qv[i]*a.qv[i] FOR i IN range(1,65)]) AS DOUBLE)) *
       |         sqrt(CAST(list_sum([b.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE))) DESC, b.vec_id) AS rank
       |  FROM probe a JOIN resident b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |  WHERE rank <= $KNN_GRAPH_K),
       |edges AS MATERIALIZED (SELECT src, dst FROM ke
       |  UNION SELECT dst AS src, src AS dst FROM ke),
       |seeds AS MATERIALIZED (SELECT vec_id AS node, CAST(cell AS BIGINT) AS label
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cell
       |        FROM v WHERE vec_id % 31 = 6) WHERE cell <= $N_CELLS),
       |l0 AS (SELECT node, label FROM seeds),
       |$rounds
       |SELECT coalesce(l.label, -1) AS label,
       |  count(*) AS n_members,
       |  CAST(count(DISTINCT m.cell) AS BIGINT) AS n_cells,
       |  CAST(sum(m.vec_id) AS BIGINT) AS id_checksum
       |FROM resident m LEFT JOIN l$KNN_COMM_ROUNDS l ON l.node = m.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** g12 oracle: g09's CTE chain with the ONE geometry change — the cell
    * cap is the scalar subquery max(16, ⌊√N⌋) instead of the literal 16,
    * computed from the same corpus the engine footer-counts.
    *
    * Three memory-shape changes vs the g09 text (values identical):
    * (a) the assignment ranks a THIN (vec_id, cell, score) frame and
    * re-joins qv afterwards — carrying the 64-long qv lists through the
    * N·k-row assignment window is harmless at 16 cells but at √N cells
    * × the 100× corpus it is ~100 GB of window input (the first 100×
    * oracle run was OOM-killed on exactly that); (b) norms are folded
    * into the probe/resident frames BEFORE the pair join — exactly
    * knnProbeEdges' own shape — and pair cosines are projected into
    * their own MATERIALIZED (src, dst, cosine) CTE. Both halves are
    * load-bearing at the 100× corpus: per-pair norm joins let the
    * optimizer put the 1.8×10⁸-row qv-laden pair intermediate on a
    * hash-join BUILD side, and an inlined `pe AS (...)` substitutes
    * the cosine expression into the ranking sort key, dragging both
    * 64-long qv lists into the sort input — each variant filled 75 GB
    * of spill before being isolated; (c) the per-src top-k additionally
    * runs in [[KE_ORACLE_SLICES]] src-residue slices, UNION ALLed, so
    * each window sorts a quarter of the materialized pair frame —
    * slicing the window's OWN partition key leaves rank-within-src
    * untouched, so the union is exactly the unsliced result. (Engine
    * side needs none of this: Spark's per-src rank window
    * hash-partitions and spills; knnProbeEdges projects cosine before
    * ranking; measured in SCALING_r16.json.)
    */
  /** Slice count for the g12 oracle's per-src top-k (see Scaladoc (c)). */
  private val KE_ORACLE_SLICES = 4

  lazy val knnCommunitiesSqrtSql: String = {
    val keSlices = (0 until KE_ORACLE_SLICES).map(i =>
      s"""  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
         |    FROM pe WHERE src % $KE_ORACLE_SLICES = $i) WHERE rank <= $KNN_GRAPH_K"""
        .stripMargin).mkString("\n  UNION ALL\n")
    val round = (prev: String, k: Int) =>
      s"""n$k AS (SELECT e.dst AS node, l.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM edges e JOIN $prev l ON l.node = e.src GROUP BY e.dst, l.label),
         |v$k AS (SELECT node, label FROM n$k
         |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1),
         |l$k AS MATERIALIZED (
         |  SELECT v.node, v.label FROM v$k v
         |    LEFT JOIN seeds s ON s.node = v.node WHERE s.node IS NULL
         |  UNION ALL SELECT node, label FROM seeds)""".stripMargin
    val rounds = (1 to KNN_COMM_ROUNDS).map(k =>
      round(if (k == 1) "l0" else s"l${k - 1}", k)).mkString(",\n")
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |nc AS (SELECT greatest($N_CELLS, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k FROM embeddings),
       |cents AS MATERIALIZED (SELECT cell, qv AS centroid FROM (
       |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
       |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= (SELECT k FROM nc)),
       |sc AS (SELECT v.vec_id, cents.cell,
       |    CAST(list_sum([v.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |      sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) AS score
       |  FROM v CROSS JOIN cents),
       |asg AS MATERIALIZED (SELECT a.vec_id, v.qv, a.cell, a.r
       |  FROM (SELECT vec_id, cell,
       |          row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY score DESC, cell) AS r
       |        FROM sc) a JOIN v ON v.vec_id = a.vec_id
       |  WHERE a.r <= 2),
       |nrm AS (SELECT vec_id,
       |    sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm
       |  FROM v),
       |resident AS MATERIALIZED (SELECT a.vec_id, a.qv, a.cell, n.nrm
       |  FROM asg a JOIN nrm n ON n.vec_id = a.vec_id WHERE a.r = 1),
       |probe AS MATERIALIZED (SELECT a.vec_id, a.qv, a.cell, n.nrm
       |  FROM asg a JOIN nrm n ON n.vec_id = a.vec_id),
       |pe AS MATERIALIZED (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |      (a.nrm * b.nrm) AS cosine
       |  FROM probe a JOIN resident b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |ke AS (
       |$keSlices),
       |edges AS MATERIALIZED (SELECT src, dst FROM ke
       |  UNION SELECT dst AS src, src AS dst FROM ke),
       |seeds AS MATERIALIZED (SELECT vec_id AS node, CAST(cell AS BIGINT) AS label
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cell
       |        FROM v WHERE vec_id % 31 = 6) WHERE cell <= (SELECT k FROM nc)),
       |l0 AS (SELECT node, label FROM seeds),
       |$rounds
       |SELECT coalesce(l.label, -1) AS label,
       |  count(*) AS n_members,
       |  CAST(count(DISTINCT m.cell) AS BIGINT) AS n_cells,
       |  CAST(sum(m.vec_id) AS BIGINT) AS id_checksum
       |FROM resident m LEFT JOIN l$KNN_COMM_ROUNDS l ON l.node = m.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------- s27 margin-based mining
  /** Ratio-margin neighborhood size — the k of Artetxe & Schwenk 2019
    * ("Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", the LASER/CCMatrix miner).
    */
  val MARGIN_K = 4
  /** Mining threshold: keep mutual-best pairs with margin ≥ 1.05 (in
    * ppm) — the paper's typical operating point; at sf0.01 the mined
    * margins span ~1.01–1.51, so the threshold does real selection.
    */
  val MARGIN_MIN_PPM = 1050000L

  /** s27: margin-based cross-side alignment mining — the parallel-corpus
    * miner behind CCMatrix/WikiMatrix: for every candidate pair (x, y)
    * across two disjoint corpus sides, score
    * margin(x,y) = cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2) — the
    * RATIO margin, which normalizes away hubness (a vector whose whole
    * neighborhood is close scores low even when its best cosine is
    * high; the s16 diagnostic turned into a miner) — and keep the pairs
    * that are MUTUAL best matches above [[MARGIN_MIN_PPM]]. The two
    * sides here are the vec_id parity classes (the deterministic
    * stand-in on the unlabeled test corpus — in a multilingual corpus
    * the side key is the language column, and nothing below depends on
    * how the side is derived).
    *
    * Candidates come from the g12 production geometry — √N-cell IVF,
    * 2-probe, candidates only within shared cells (~N^1.5/k total,
    * never all-pairs) — probed in BOTH directions (x's probe cells into
    * y's residency and vice versa) so a cross-side pair straddling a
    * cell boundary is still found, exactly the reason g09/g12 probe
    * with nProbe = 2.
    *
    * Numeric contract: cosines quantize to ppm (one IEEE chain both
    * engines share — see the header) BEFORE any aggregation, so the
    * k-NN sums, the integer-average denominators and the margin are
    * exact int64 arithmetic — summing raw doubles across k neighbors
    * would be aggregation-order-dependent and break the hash oracle.
    * |2·cos_ppm·10⁶| ≤ 2e12, far from overflow.
    *
    * Scale shape: one √N-cell equi-join per direction builds the thin
    * (src, dst, cos_ppm) candidate frame — 3 longs per row — which then
    * flows through ONE pipeline: a src-partitioned window stage (k-NN
    * rank + conditional sum attach avgNN(src) to every pair), a
    * dst-partitioned window stage (same for dst, then the margin and
    * the backward-best flag ride the SAME exchange), and a final
    * src-partitioned stage for the forward-best flag — three exchanges
    * of the candidate frame total, ZERO joins, ZERO materialization.
    * The first formulation (localCheckpoint the candidates, two
    * grouped k-NN aggregates, join both back) was measurably worse in
    * exactly the way the q76 retention note predicts: at the 100×
    * corpus the ~tens-of-GB checkpoint accumulated across bench reps
    * until the heap died — windows attach the neighborhood statistics
    * without ever storing the frame. All windows partition by a vector
    * id (per-node fan-out ≤ 2·|cell|, bounded by the geometry, never
    * corpus-proportional).
    */
  def marginMining(s: SparkSession, d: String): DataFrame =
    marginMiningOn(Tables.embeddings(s, d))

  /** s27 over any (vec_id, embedding) frame (spec-injectable face). */
  private[graft] def marginMiningOn(emb: DataFrame): DataFrame = {
    val n = emb.count()
    val nCells = sqrtCells(n)
    val corpus = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = seedCentroids(corpus, nCells)
    // one 2-probe ranking; residency is its r = 1 prefix
    val probes = assignToCells(corpus, cents, 2, keepRank = true)
    val resident = probes.filter(col("r") === 1)
    def side(df: DataFrame, par: Int): DataFrame =
      df.filter(col("vec_id") % 2 === par)
    // (even src, odd dst, cos_ppm) within a shared cell; `a` may carry
    // ≤2 rows per vec_id (probe side) — the duplicate pair surfaces
    // with an IDENTICAL cos_ppm, so the distinct dedups exactly
    def cosPairs(a: DataFrame, b: DataFrame): DataFrame = {
      val aa = a.withColumn("nrm",
        sqrt(qdot(col("qv"), col("qv")).cast("double")))
      val bb = b.withColumn("nrm",
        sqrt(qdot(col("qv"), col("qv")).cast("double")))
      aa.as("a").join(bb.as("b"), col("a.cell") === col("b.cell"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          floor(lit(1000000.0) *
            (qdot(col("a.qv"), col("b.qv")).cast("double") /
              (col("a.nrm") * col("b.nrm")))).cast("long").as("cos_ppm"))
    }
    val pairs = cosPairs(side(probes, 0), side(resident, 1))
      .unionByName(cosPairs(side(resident, 0), side(probes, 1)))
      .distinct()
    // stage 1 (src exchange): k-NN rank by cosine, then the
    // conditional sum/count attach avgNN(src) to EVERY pair of that
    // src — same exchange, second window function
    val wSrcCos = Window.partitionBy(col("src"))
      .orderBy(col("cos_ppm").desc, col("dst"))
    val wSrcAll = Window.partitionBy(col("src"))
    val withA = pairs
      .withColumn("ra", row_number().over(wSrcCos))
      .withColumn("sa", sum(when(col("ra") <= MARGIN_K,
        col("cos_ppm"))).over(wSrcAll))
      .withColumn("ca", sum(when(col("ra") <= MARGIN_K, 1L)).over(wSrcAll))
    // stage 2 (dst exchange): same for dst; the margin — ratio margin
    // in exact ppm: den = avgNN(src) + avgNN(dst), both integer
    // averages (div), margin = 2·cos·10⁶ div den, a non-positive den
    // (all-negative neighborhoods) excluded in both engines — and the
    // backward-best flag ride the same exchange (the filter preserves
    // the dst partitioning, so the second window adds a sort, not a
    // shuffle)
    val wDstCos = Window.partitionBy(col("dst"))
      .orderBy(col("cos_ppm").desc, col("src"))
    val wDstAll = Window.partitionBy(col("dst"))
    val m = withA
      .withColumn("rb", row_number().over(wDstCos))
      .withColumn("sb", sum(when(col("rb") <= MARGIN_K,
        col("cos_ppm"))).over(wDstAll))
      .withColumn("cb", sum(when(col("rb") <= MARGIN_K, 1L)).over(wDstAll))
      .withColumn("den", expr("(sa div ca) + (sb div cb)"))
      .filter(col("den") > 0)
      .withColumn("margin_ppm", expr("(2 * cos_ppm * 1000000) div den"))
      .withColumn("bwd", row_number().over(
        Window.partitionBy(col("dst"))
          .orderBy(col("margin_ppm").desc, col("src"))))
    // stage 3 (src exchange): forward-best flag, then the mutual +
    // threshold filter — no join anywhere
    m.withColumn("fwd", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("margin_ppm").desc, col("dst"))))
      .filter(col("fwd") === 1 && col("bwd") === 1 &&
        col("margin_ppm") >= MARGIN_MIN_PPM)
      .select("src", "dst", "cos_ppm", "margin_ppm")
      .orderBy("src")
  }

  /** s27 oracle: the g12 CTE prefix (√N scalar-subquery geometry,
    * 2-probe assignment) restricted per side, both candidate
    * directions, then the same ppm quantization, integer k-NN
    * averages, margin, mutual-best filter and threshold.
    */
  lazy val marginMiningSql: String =
    s"""WITH v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS qv FROM embeddings),
       |nc AS (SELECT greatest($N_CELLS, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k FROM embeddings),
       |cents AS MATERIALIZED (SELECT cell, qv AS centroid FROM (
       |  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS cell
       |  FROM v WHERE vec_id % 31 = 6) WHERE cell <= (SELECT k FROM nc)),
       |sc AS (SELECT v.vec_id, cents.cell,
       |    CAST(list_sum([v.qv[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |      sqrt(CAST(list_sum([cents.centroid[i]*cents.centroid[i] FOR i IN range(1,65)]) AS DOUBLE)) AS score
       |  FROM v CROSS JOIN cents),
       |asg AS MATERIALIZED (SELECT a.vec_id, v.qv, a.cell, a.r
       |  FROM (SELECT vec_id, cell,
       |          row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY score DESC, cell) AS r
       |        FROM sc) a JOIN v ON v.vec_id = a.vec_id
       |  WHERE a.r <= 2),
       |nrm AS (SELECT vec_id,
       |    sqrt(CAST(list_sum([qv[i]*qv[i] FOR i IN range(1,65)]) AS DOUBLE)) AS nrm
       |  FROM v),
       |resident AS MATERIALIZED (SELECT a.vec_id, a.qv, a.cell, n.nrm
       |  FROM asg a JOIN nrm n ON n.vec_id = a.vec_id WHERE a.r = 1),
       |probe AS MATERIALIZED (SELECT a.vec_id, a.qv, a.cell, n.nrm
       |  FROM asg a JOIN nrm n ON n.vec_id = a.vec_id),
       |pab AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    CAST(floor(1000000.0 *
       |      (CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        (a.nrm * b.nrm))) AS BIGINT) AS cos_ppm
       |  FROM probe a JOIN resident b ON a.cell = b.cell
       |   AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |pba AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    CAST(floor(1000000.0 *
       |      (CAST(list_sum([a.qv[i]*b.qv[i] FOR i IN range(1,65)]) AS DOUBLE) /
       |        (a.nrm * b.nrm))) AS BIGINT) AS cos_ppm
       |  FROM resident a JOIN probe b ON a.cell = b.cell
       |   AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |pairs AS MATERIALIZED (SELECT DISTINCT src, dst, cos_ppm FROM
       |  (SELECT * FROM pab UNION ALL SELECT * FROM pba)),
       |ka AS (SELECT src, CAST(sum(cos_ppm) AS BIGINT) AS sa, count(*) AS ca FROM (
       |  SELECT src, cos_ppm, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY cos_ppm DESC, dst) AS r
       |  FROM pairs) WHERE r <= $MARGIN_K GROUP BY src),
       |kb AS (SELECT dst, CAST(sum(cos_ppm) AS BIGINT) AS sb, count(*) AS cb FROM (
       |  SELECT dst, cos_ppm, src,
       |    row_number() OVER (PARTITION BY dst ORDER BY cos_ppm DESC, src) AS r
       |  FROM pairs) WHERE r <= $MARGIN_K GROUP BY dst),
       |m AS MATERIALIZED (SELECT p.src, p.dst, p.cos_ppm,
       |    (2 * p.cos_ppm * 1000000) // ((ka.sa // ka.ca) + (kb.sb // kb.cb)) AS margin_ppm
       |  FROM pairs p JOIN ka ON ka.src = p.src JOIN kb ON kb.dst = p.dst
       |  WHERE (ka.sa // ka.ca) + (kb.sb // kb.cb) > 0),
       |fwd AS (SELECT src, dst, cos_ppm, margin_ppm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY src
       |                               ORDER BY margin_ppm DESC, dst) AS r
       |  FROM m) WHERE r = 1),
       |bwd AS (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY dst
       |                                      ORDER BY margin_ppm DESC, src) AS r
       |  FROM m) WHERE r = 1)
       |SELECT src, dst, cos_ppm, margin_ppm
       |FROM fwd JOIN bwd USING (src, dst)
       |WHERE margin_ppm >= $MARGIN_MIN_PPM
       |ORDER BY src""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s27_margin_mining" -> (marginMining _),
    "s21_knn_graph" -> (knnGraph _),
    "s22_incremental_knn" -> (incrementalKnn _),
    "g09_knn_communities" -> (knnCommunities _),
    "g12_knn_communities_sqrt" -> (knnCommunitiesSqrt _),
    "p22_index_health" -> (indexHealth _),
    "p23_health_from_store" -> (indexHealthFromStore _),
    "s19_rrf_fusion" -> ((s: SparkSession, d: String) => rrfFusion(s, d)),
    "s18_silhouette" -> (silhouette _),
    "s17_ivf_drift" -> (ivfDrift _),
    "s16_knn_hubness" -> ((s: SparkSession, d: String) => knnHubness(s, d)),
    "s20_hubness_sampled" -> ((s: SparkSession, d: String) => knnHubnessSampled(s, d)),
    "p19_cluster_quota" -> (clusterQuotaSample _),
    "s15_ann_deletion" -> ((s: SparkSession, d: String) => ivfPqDeleteTopK(s, d)),
    "s14_matryoshka_recall" -> ((s: SparkSession, d: String) => matryoshkaRecall(s, d)),
    "s13_mmr_rerank" -> ((s: SparkSession, d: String) => mmrRerank(s, d)),
    "p14_semantic_decontam" -> ((s: SparkSession, d: String) => semanticDecontam(s, d)),
    "s12_hard_negatives" -> ((s: SparkSession, d: String) => hardNegatives(s, d)),
    "s11_pq_rerank" -> ((s: SparkSession, d: String) => ivfPqRerank(s, d)),
    "s10_ivfpq_recall" -> ((s: SparkSession, d: String) => ivfPqRecall(s, d)),
    "s09_ivfpq_ann" -> ((s: SparkSession, d: String) => ivfPqTopK(s, d)),
    "s08_pq_ann" -> ((s: SparkSession, d: String) => pqTopK(s, d)),
    "s07_sq8_ann" -> ((s: SparkSession, d: String) => sq8TopK(s, d)),
    "s06_kmeans_2step" -> (kmeansTwoStep _),
    "s05_kmeans_step" -> (kmeansStep _),
    "s04_semantic_dedup" -> (semanticDedup _),
    "s01_cosine_topk" -> ((s: SparkSession, d: String) => cosineTopK(s, d)),
    "s02_ann_lsh" -> ((s: SparkSession, d: String) => annLshTopK(s, d)),
    "s03_ann_ivf" -> ((s: SparkSession, d: String) => annIvfTopK(s, d)),
    "s23_pruned_exact_knn" -> ((s: SparkSession, d: String) => prunedExactTopK(s, d)),
    "s24_pruned_exact_store" -> ((s: SparkSession, d: String) => prunedExactTopKFromStore(s, d)),
    "s25_nprobe_sweep" -> ((s: SparkSession, d: String) => nprobeSweep(s, d)),
    "s26_clustered_prune_proof" -> ((s: SparkSession, d: String) => clusteredPruneProof(s, d)),
    "d06_embedding_neardup" -> ((s: SparkSession, d: String) => embeddingNearDupPairsSeeded(s, d)))

  val oracles: Map[String, String] = Map(
    "s27_margin_mining" -> marginMiningSql,
    "s21_knn_graph" -> knnGraphSql,
    "s22_incremental_knn" -> incrementalKnnSql,
    "g09_knn_communities" -> knnCommunitiesSql,
    "g12_knn_communities_sqrt" -> knnCommunitiesSqrtSql,
    "p22_index_health" -> indexHealthSql,
    "p23_health_from_store" -> indexHealthSql,
    "s19_rrf_fusion" -> rrfFusionSql,
    "s18_silhouette" -> silhouetteSql,
    "s17_ivf_drift" -> ivfDriftSql,
    "s16_knn_hubness" -> knnHubnessSql,
    "s20_hubness_sampled" -> knnHubnessSampledSql,
    "p19_cluster_quota" -> clusterQuotaSampleSql,
    "s15_ann_deletion" -> ivfPqDeleteTopKSql,
    "s14_matryoshka_recall" -> matryoshkaRecallSql,
    "s13_mmr_rerank" -> mmrRerankSql,
    "p14_semantic_decontam" -> semanticDecontamSql,
    "s12_hard_negatives" -> hardNegativesSql,
    "s11_pq_rerank" -> ivfPqRerankSql,
    "s10_ivfpq_recall" -> ivfPqRecallSql,
    "s09_ivfpq_ann" -> ivfPqTopKSql,
    "s08_pq_ann" -> pqTopKSql,
    "s07_sq8_ann" -> sq8TopKSql,
    "s06_kmeans_2step" -> kmeansTwoStepSql,
    "s05_kmeans_step" -> kmeansStepSql,
    "s04_semantic_dedup" -> semanticDedupSql,
    "s01_cosine_topk" -> cosineTopKSql,
    "s02_ann_lsh" -> annLshTopKSql,
    "s03_ann_ivf" -> annIvfTopKSql,
    "s23_pruned_exact_knn" -> prunedExactTopKSql,
    "s24_pruned_exact_store" -> prunedExactStoreSql,
    "s25_nprobe_sweep" -> nprobeSweepSql,
    "s26_clustered_prune_proof" -> clusteredPruneProofSql,
    "d06_embedding_neardup" -> embeddingNearDupPairsSql)
}
