package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Loop kernels for the IVF-PQ serving expressions — names the generated
  * Java can call, shared verbatim by the interpreted eval path so the two
  * cannot drift (the CleanTextKernel discipline).
  */
object IvfServingKernels {

  /** The centroid norm [[probeCells]] divides by — defined HERE so every
    * model builder (`Similarity.assignToCells`, GraftExtensions' SQL
    * literal path) produces bit-identical cnorms: the EXACT long
    * self-dot, one cast to double, one sqrt — the
    * `sqrt(CAST(c·c AS DOUBLE))` of every oracle. (A running double sum
    * rounds differently once a partial sum passes 2^53.)
    */
  def centroidNorm(cv: Array[Long]): Double = {
    var s = 0L
    var i = 0
    while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
    math.sqrt(s.toDouble)
  }

  /** Per-subspace self-dots of one codebook row (`ccm(j)(m)` of
    * [[PqAdcLuts]]) — exact long arithmetic, shared by every builder.
    */
  def subspaceSelfDots(row: Array[Long], nSub: Int, subDim: Int): Array[Long] = {
    val out = new Array[Long](nSub)
    var m = 0
    while (m < nSub) {
      var s = 0L
      var i = m * subDim
      val lim = math.min((m + 1) * subDim, row.length)
      while (i < lim) { s += row(i) * row(i); i += 1 }
      out(m) = s
      m += 1
    }
    out
  }

  /** Top-`nProbe` cell ids of a quantized query against the centroid
    * matrix, ordered by (cosine score DESC, cell ASC) — THE cell ranking
    * of the batch path (`Similarity.assignToCells`, per row, no window),
    * mirrored by every oracle's row_number: score is the exact long dot
    * cast to double over [[centroidNorm]], ties broken by ascending cell
    * id (NaN impossible: centroids are non-zero by construction).
    */
  def probeCells(qvAd: ArrayData, cells: Array[Int], cents: Array[Array[Long]],
      cnorms: Array[Double], nProbe: Int): ArrayData = {
    val qv = qvAd.toLongArray()
    val n = cents.length
    val scores = new Array[Double](n)
    var i = 0
    while (i < n) {
      val c = cents(i)
      val lim = math.min(qv.length, c.length)
      var dot = 0L
      var j = 0
      while (j < lim) { dot += qv(j) * c(j); j += 1 }
      scores(i) = dot.toDouble / cnorms(i)
      i += 1
    }
    val order = Array.range(0, n).sortWith { (a, b) =>
      scores(a) > scores(b) || (scores(a) == scores(b) && cells(a) < cells(b))
    }
    val out = new Array[Int](math.min(nProbe, n))
    i = 0
    while (i < out.length) { out(i) = cells(order(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Per-subspace ADC lookup tables for one query: element m (0-based) is
    * the k-long array lut_m with lut_m(j) = ||q_m − c_mj||² as EXACT long
    * integers — `qq − 2·qc + cc`, the same decomposition as
    * `Similarity.pqLut`'s sqd, so ranking ties break identically to the
    * batch probe.
    */
  def adcLuts(qvAd: ArrayData, cb: Array[Array[Long]], ccm: Array[Array[Long]],
      nSub: Int, subDim: Int): ArrayData = {
    val qv = qvAd.toLongArray()
    val k = cb.length
    val out = new Array[Any](nSub)
    var m = 0
    while (m < nSub) {
      val off = m * subDim
      var qq = 0L
      var i = 0
      while (i < subDim) { val x = qv(off + i); qq += x * x; i += 1 }
      val lut = new Array[Long](k)
      var j = 0
      while (j < k) {
        val c = cb(j)
        var qc = 0L
        i = 0
        while (i < subDim) { qc += qv(off + i) * c(off + i); i += 1 }
        lut(j) = qq - 2L * qc + ccm(j)(m)
        j += 1
      }
      out(m) = new GenericArrayData(lut)
      m += 1
    }
    new GenericArrayData(out)
  }
}

/** The IVF cell probe ([[graft.operators.Similarity.cellProbe]]) as ONE
  * compact expression with the centroid matrix as a codegen REFERENCE
  * OBJECT.
  *
  * Why a custom expression: composing the probe from per-centroid column
  * literals builds nCells struct nodes each wrapping a 64-long literal
  * array — at the fixture's 16 cells that plan codegens fine, but at a
  * production store's 256 cells the generated `processNext()` exceeds the
  * JVM's 64KB method limit and janino refuses the class outright (the
  * LshBucketTables lesson at a different k). Here the model is one
  * referenced `long[][]` and the generated code is a single kernel call
  * whose size is constant in nCells.
  */
case class IvfCellProbe(child: Expression, cells: Array[Int],
    cents: Array[Array[Long]], cnorms: Array[Double], nProbe: Int)
    extends UnaryExpression {

  require(cells.length == cents.length && cnorms.length == cents.length,
    "cells/cents/cnorms must be parallel arrays")
  require(nProbe > 0, "nProbe must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    IvfServingKernels.probeCells(input.asInstanceOf[ArrayData], cells, cents,
      cnorms, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("cells", cells, "int[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "long[][]")
    val normsRef = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.IvfServingKernels.probeCells($v, $cellsRef, $centsRef, $normsRef, $nProbe)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCellProbe =
    copy(child = newChild)

  // content equality over the model arrays (see ModelEquality)
  override def equals(o: Any): Boolean = o match {
    case that: IvfCellProbe =>
      child == that.child && nProbe == that.nProbe &&
        java.util.Arrays.equals(cells, that.cells) &&
        ModelEquality.deepEq(cents, that.cents) &&
        java.util.Arrays.equals(cnorms, that.cnorms)
    case _ => false
  }

  override def hashCode(): Int =
    ((31 * child.hashCode() + nProbe) * 31 +
      java.util.Arrays.hashCode(cells)) * 31 + ModelEquality.deepHash(cents)

  override def prettyName: String = "ivf_cell_probe"
}

/** All PQ_M ADC lookup tables of one query as ONE expression returning
  * array<array<bigint>> — the codebook rides as reference objects instead
  * of k literal arrays per subspace (same 64KB-method rationale as
  * [[IvfCellProbe]]; at k=256 the literal form is ~PQ_M·k dot-product
  * expression trees in one projection).
  *
  * `cb(j)` is codebook row j's FULL quantized vector (subspace slices are
  * taken inside the kernel); `ccm(j)(m)` its precomputed subspace self-dot.
  */
case class PqAdcLuts(child: Expression, cb: Array[Array[Long]],
    ccm: Array[Array[Long]], nSub: Int, subDim: Int)
    extends UnaryExpression {

  require(cb.length == ccm.length, "cb/ccm must be parallel arrays")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def nullSafeEval(input: Any): Any =
    IvfServingKernels.adcLuts(input.asInstanceOf[ArrayData], cb, ccm, nSub, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cb, "long[][]")
    val ccmRef = ctx.addReferenceObj("ccm", ccm, "long[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.IvfServingKernels.adcLuts($v, $cbRef, $ccmRef, $nSub, $subDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcLuts =
    copy(child = newChild)

  // content equality over the codebook arrays (see ModelEquality)
  override def equals(o: Any): Boolean = o match {
    case that: PqAdcLuts =>
      child == that.child && nSub == that.nSub && subDim == that.subDim &&
        ModelEquality.deepEq(cb, that.cb) && ModelEquality.deepEq(ccm, that.ccm)
    case _ => false
  }

  override def hashCode(): Int =
    ((31 * child.hashCode() + nSub) * 31 + subDim) * 31 +
      ModelEquality.deepHash(cb)

  override def prettyName: String = "pq_adc_luts"
}
