package graft.expressions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

import graft.SparkSpec

/** IvfCellProbe / PqAdcLuts: the reference-object serving kernels vs
  * independent plain-Scala references on random models — pins the score
  * arithmetic, the (score DESC, cell ASC) tie-break, and the exact ADC
  * integers without routing through the (shared) kernel object, so a
  * kernel bug cannot self-certify. End-to-end equality with the batch
  * probe is separately pinned in StreamingAnnSpec at fixture AND
  * production k.
  */
class IvfServingSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  private def randVec(dim: Int): Array[Long] =
    Array.fill(dim)((rnd.nextInt(2000001) - 1000000).toLong)

  test("IvfCellProbe equals an independent top-nProbe reference, ties included") {
    val dim = 64
    val nCells = 37 // deliberately not a power of two
    val nProbe = 5
    val cells = Array.tabulate(nCells)(i => i * 3 + 1) // non-dense ids
    val cents = Array.fill(nCells)(randVec(dim))
    // plant exact ties: two centroids with IDENTICAL vectors must rank by
    // ascending cell id
    cents(20) = cents(4).clone()
    val cnorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val queries = Seq.fill(25)(randVec(dim))
    val got = queries.toDF("qv")
      .select(ColumnShim.column(IvfCellProbe(
        ColumnShim.expression(col("qv")), cells, cents, cnorms, nProbe)).as("p"))
      .collect().map(_.getSeq[Int](0).toSeq)
    val expect = queries.map { q =>
      val scored = cells.indices.map { i =>
        val dot = q.zip(cents(i)).map { case (x, y) => x * y }.sum
        (dot.toDouble / cnorms(i), cells(i))
      }
      scored.sortBy { case (s, c) => (-s, c) }.take(nProbe).map(_._2).toSeq
    }
    assert(got.toSeq == expect)
    // the planted tie pair appears adjacent and cell-ascending whenever
    // both are probed
    val tieCells = Seq(cells(4), cells(20))
    got.foreach { p =>
      if (tieCells.forall(p.contains)) {
        val (i, j) = (p.indexOf(tieCells.head), p.indexOf(tieCells.last))
        assert(j == i + 1, s"tie broke out of cell order: $p")
      }
    }
  }

  test("centroidNorm is sqrt of the exact long self-dot, past 2^53 too") {
    // components near 1e8: each square is ~1e16 > 2^53, so a running
    // double sum rounds at every step while the exact long sum (6.4e17,
    // far below Long.MaxValue) rounds once, in the final cast — the
    // batch form sqrt(CAST(c·c AS DOUBLE)) every oracle computes
    val cv = Array.tabulate(64)(i => 99999999L + i)
    val exact = math.sqrt(cv.map(x => x * x).sum.toDouble)
    val runningDouble = math.sqrt(cv.foldLeft(0.0)((s, x) => s + x.toDouble * x))
    assert(exact != runningDouble, "the two forms must disagree on this vector")
    assert(IvfServingKernels.centroidNorm(cv) == exact)
  }

  test("PqAdcLuts equals the qq - 2qc + cc reference on every (m, j)") {
    val M = 4
    val SUB = 16
    val k = 23
    val cb = Array.fill(k)(randVec(M * SUB))
    val ccm = cb.map(c => Array.tabulate(M) { m =>
      (m * SUB until (m + 1) * SUB).map(i => c(i) * c(i)).sum
    })
    val queries = Seq.fill(15)(randVec(M * SUB))
    val got = queries.toDF("qv")
      .select(ColumnShim.column(PqAdcLuts(
        ColumnShim.expression(col("qv")), cb, ccm, M, SUB)).as("l"))
      .collect().map(_.getSeq[scala.collection.Seq[Long]](0).map(_.toSeq))
    val expect = queries.map { q =>
      (0 until M).map { m =>
        (0 until k).map { j =>
          val qq = (m * SUB until (m + 1) * SUB).map(i => q(i) * q(i)).sum
          val qc = (m * SUB until (m + 1) * SUB).map(i => q(i) * cb(j)(i)).sum
          qq - 2L * qc + ccm(j)(m)
        }.toSeq
      }.toSeq
    }
    assert(got.toSeq == expect)
  }

  test("both expressions are null-intolerant and reject non-long-array input") {
    val cells = Array(1); val cents = Array(Array(1L)); val norms = Array(1.0)
    val nullRow = Seq(Option.empty[Array[Long]]).toDF("qv")
      .select(ColumnShim.column(IvfCellProbe(
        ColumnShim.expression(col("qv")), cells, cents, norms, 1)).as("p"))
      .collect().head
    assert(nullRow.isNullAt(0))
    val ex = intercept[Exception] {
      Seq(Seq("x")).toDF("qv").select(ColumnShim.column(PqAdcLuts(
        ColumnShim.expression(col("qv")), Array(Array(1L)),
        Array(Array(1L)), 1, 1))).collect()
    }
    assert(ex.getMessage.contains("array<bigint>"), ex.getMessage)
  }
}
