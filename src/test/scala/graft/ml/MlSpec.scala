package graft.ml

import graft.SparkSpec

class MlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val expr = Seq(
    ("s1", "AAA", "G1", 5L), ("s1", "AAA", "G2", 5L),
    ("s1", "BBB", "G1", 10L), ("s1", "BBB", "G3", 30L),
    ("s1", "CCC", "G3", 1L),
  ).toDF("sample", "barcode", "gene", "count")

  /** The fixture's cells in barcode order, genes G1, G2, G3 as 0, 1, 2:
    * (genes, counts) per cell. */
  private val cellGenes = Array(Array(0, 1), Array(0, 2), Array(2))
  private val cellCounts = Array(Array(5L, 5L), Array(10L, 30L), Array(1L))

  test("logNormalize golden: log1p(count/total*1e4)") {
    val n = Pca.logNormalize(cellCounts.map(_.clone))
    assert(math.abs(n(0)(0) - math.log1p(5.0 / 10 * 1e4)) < 1e-12)
    assert(math.abs(n(1)(1) - math.log1p(30.0 / 40 * 1e4)) < 1e-12)
    assert(math.abs(n(2)(0) - math.log1p(1.0 * 1e4)) < 1e-12)
    // DataIntegration.run normalizes the same way: its HVG means are
    // the normalized values' means over the 3 cells
    val cells = Seq(("s1", "AAA", 0L), ("s1", "BBB", 1L), ("s1", "CCC", 2L))
      .toDF("sample", "barcode", "cells_id")
    val means = graft.qc.DataIntegration.run(expr, cells, numHvg = 3, numPcs = 2).hvg
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(means("G1") - (n(0)(0) + n(1)(0)) / 3) < 1e-12)
    assert(math.abs(means("G3") - (n(1)(1) + n(2)(0)) / 3) < 1e-12)
  }

  test("geneStats includes implicit zeros (n = 3 cells)") {
    // the raw counts fed to the kernel as values: every gene varies, so
    // the HVG table holds all three
    val s = Pca.reduce(cellGenes, cellCounts.map(_.map(_.toDouble)), numHvg = 3, numPcs = 2)
      .hvg.map(h => h.gene -> ((h.mean, h.variance))).toMap
    assert(s.size == 3)
    // G1: values (5, 10, 0): mean 5, var ((25+100) - 3*25)/2 = 25
    assert(math.abs(s(0)._1 - 5.0) < 1e-12)
    assert(math.abs(s(0)._2 - 25.0) < 1e-12)
    // G2: (5, 0, 0): mean 5/3, var (25 - 25/3)/2 = 25/3
    assert(math.abs(s(1)._1 - 5.0 / 3) < 1e-12)
    assert(math.abs(s(1)._2 - 25.0 / 3) < 1e-12)
  }

  test("loess reproduces a straight line exactly") {
    val xs = (1 to 50).map(_.toDouble).toArray
    val ys = xs.map(x => 2.0 * x + 1.0)
    val f = Loess.fit(xs, ys, span = 0.4)
    xs.indices.foreach(i => assert(math.abs(f(i) - ys(i)) < 1e-8))
  }

  test("selectHvg ranks the over-dispersed gene first") {
    // G_hi (gene 6): huge variance relative to mean; genes 0-5: Poisson-ish
    val genes = Array.fill(40)((0 to 6).toArray)
    val values = Array.tabulate(40) { c =>
      Array.tabulate(6)(g => (g + 2 + c % 3).toDouble) :+ (if (c % 10 == 0) 500.0 else 1.0)
    }
    val hvg = Pca.reduce(genes, values, numHvg = 3, numPcs = 2).hvg
    assert(hvg.length == 3)
    assert(hvg.head.gene == 6)
    assert(hvg.map(_.varianceStandardized).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("scaleData: zero-corrected moments, clipped z, z0") {
    // values (3, 6, 0): mu = 3, var = (45 - 27)/2 = 9, sigma = 3
    assert(Pca.sigma(9.0) == 3.0 && Pca.sigma(0.0) == 1.0)
    assert(Pca.z(40.0, 3.0, 3.0, Pca.ScaleMax) == Pca.ScaleMax)
    val r = Pca.reduce(Array(Array(0), Array(0), Array.empty[Int]),
      Array(Array(3.0), Array(6.0), Array.empty[Double]), numHvg = 1, numPcs = 1)
    assert(math.abs(r.hvg.head.mean - 3.0) < 1e-12)
    assert(math.abs(r.hvg.head.variance - 9.0) < 1e-12)
    // one gene: its axis is +1, so each row is the cell's z, and the
    // cell without an entry sits at z0
    val z = r.embedding.map(_.head)
    assert(math.abs(z(0) - 0.0) < 1e-12)
    assert(math.abs(z(1) - 1.0) < 1e-12)
    assert(math.abs(z(2) - (-1.0)) < 1e-12)
    assert(r.varianceExplained.toSeq == Seq(1.0))
  }

  test("PCA finds the dominant direction and keeps cell keys") {
    // genes 0 and 1 follow t, gene 2 sways uncorrelated with t: scaled
    // to unit variance, the three have eigenvalues 2, 1, 0 and PC1 is
    // t's direction
    val ts = Seq(0.5, 1.5, 2.5, 3.5, 4.5, 5.5)
    val sway = Seq(1.0, -1.0, 0.0, 0.0, -1.0, 1.0)
    val r = Pca.reduce(Array.fill(6)(Array(0, 1, 2)),
      ts.indices.map(c => Array(ts(c), 2 * ts(c), 2.0 + 0.5 * sway(c))).toArray,
      numHvg = 3, numPcs = 3)
    assert(math.abs(r.varianceExplained.head - 2.0 / 3) < 1e-9)
    // PC1 scores are an affine image of t: spacing between consecutive
    // cells is constant and non-zero
    val p1 = r.embedding.map(_.head)
    val gaps = p1.zip(p1.tail).map { case (a, b) => b - a }
    assert(gaps.forall(g => math.abs(math.abs(g) - math.abs(gaps.head)) < 1e-6))
    assert(math.abs(gaps.head) > 0.1)
    // through DataIntegration.run: one row per cell of `cells`, keyed
    // by its own cells_id, a cell without rows included
    val rows6 = ts.indices.flatMap { c =>
      Seq(("s1", s"c$c", "G0", 1L + c), ("s1", s"c$c", "G1", 20L - c))
    }.toDF("sample", "barcode", "gene", "count")
    val cells = (0 to 6).map(c => ("s1", s"c$c", 100L * c + 7)).toDF("sample", "barcode", "cells_id")
    val red = graft.qc.DataIntegration.run(rows6, cells, numHvg = 2, numPcs = 2)
    val rows = red.pca.collect()
    assert(rows.map(_.getAs[Long]("cells_id")).toSeq == (0 to 6).map(c => 100L * c + 7))
    assert(rows.forall(r => r.getSeq[Double](1).length == 2 && !r.getSeq[Double](1).exists(_.isNaN)))
  }
}
