package graft.ml

/** The reduction kernel of the dataIntegration step
  * (`QC_helpers/dataIntegration.r:98-109`): `NormalizeData` →
  * `FindVariableFeatures(vst)` → `ScaleData` → `RunPCA`, on one task's
  * local arrays. [[graft.qc.DataIntegration.run]] runs it once over the
  * merged experiment, [[Doublets]] once per sample over its real and
  * artificial cells.
  *
  * The input is each cell's nonzero entries; implicit zeros stay
  * implicit throughout. Every moment is computed with analytic
  * zero-correction from `(Σx, Σx², nnz)` and the cell count; a zero's
  * scaled value is the gene's constant z0, so a cell's dense HVG row is
  * z0 plus its sparse deltas, and the covariance is accumulated from
  * the deltas alone. Cost: O(nnz + cells·h² + d³) for d selected genes
  * and h of them expressed per cell, and one d×d covariance with its
  * eigen-decomposition. The DataFrame form of the chain is kept in the
  * test sources as `ReductionsReference`.
  */
object Pca {

  /** LogNormalize's `scale.factor`. */
  val ScaleFactor = 1e4

  /** Seurat's `scale.max`: z-scores are clipped at +10. */
  val ScaleMax = 10.0

  /** `LogNormalize` of each cell's counts: log1p(count / total ·
    * [[ScaleFactor]]), `total` the cell's library size. Each cell's
    * counts are dropped (set to null) once normalized. */
  def logNormalize(counts: Array[Array[Long]]): Array[Array[Double]] =
    Array.tabulate(counts.length) { i =>
      val total = counts(i).sum
      val x = counts(i).map(c => math.log1p(c.toDouble / total.toDouble * ScaleFactor))
      counts(i) = null
      x
    }

  /** vst's clip of a standardized value: sqrt(nCells), one-sided
    * (counts are non-negative). */
  def clipMax(nCells: Long): Double = math.sqrt(nCells.toDouble)

  /** A gene's expected sd at its loess-fitted log10 variance. */
  def expectedSd(fittedLog10Variance: Double): Double =
    math.sqrt(math.pow(10, fittedLog10Variance))

  /** vst standardized variance of one gene over `nCells` cells, from
    * the sum of its nonzero entries' clipped squared z-scores:
    * [Σ z_clip² + (nCells − nnz)·z0²]/(nCells − 1), where z0 = −mean/sd
    * is the standardized implicit zero. */
  def standardizedVariance(zSqNonzero: Double, nnz: Long, nCells: Long,
                           mean: Double, expSd: Double): Double = {
    val z0 = -mean / expSd
    (zSqNonzero + (nCells - nnz).toDouble * z0 * z0) / (nCells - 1).toDouble
  }

  /** A gene's σ from its variance over all cells; 1 for a constant (or
    * single-cell) gene, whose z is then identically 0 (Seurat's
    * guard). */
  def sigma(variance: Double): Double = {
    val sd = math.sqrt(math.max(variance, 0.0))
    if (sd > 0) sd else 1.0
  }

  /** The z-score of a value, clipped at `clipMax` (one-sided). */
  def z(x: Double, mu: Double, sigma: Double, clipMax: Double): Double =
    math.min((x - mu) / sigma, clipMax)

  /** One selected gene: its index, the mean and variance of its
    * normalized values over all cells, and its vst standardized
    * variance. */
  final case class HvgGene(gene: Int, mean: Double, variance: Double,
                           varianceStandardized: Double)

  /** The HVGs in rank order (`hvg_rank` is position + 1), each
    * component's share of the scaled matrix's total variance, and one
    * embedding row per cell, in input order. */
  final case class Reduction(hvg: Array[HvgGene], varianceExplained: Array[Double],
                             embedding: Array[Array[Double]])

  /** The reductions of the normalized cells: entries `(gene, norm)` per
    * cell, genes numbered 0 until numGenes, ties in rank broken by the
    * lower number.
    *  1. vst HVG selection: per-gene mean/variance (zero-corrected);
    *     loess of log10(var) ~ log10(mean) over the genes with var > 0
    *     ([[Loess]], span 0.3); expected sd = sqrt(10^fitted); the
    *     standardized variance of each gene's values clipped at
    *     sqrt(cells) ([[standardizedVariance]]); the top `numHvg`;
    *  2. ScaleData: z = (x − μ)/[[sigma]] clipped at [[ScaleMax]], an
    *     implicit zero at the gene's z0;
    *  3. PCA: the covariance of the dense rows, its top `numPcs` axes
    *     ([[principalAxes]]), and every cell's row projected onto them
    *     (uncentered, as `RunPCA`'s cell embeddings).
    * A cell with no entry on the selected genes gets the projection of
    * the all-z0 row. With no gene varying (one cell, or constant
    * genes) nothing is selected and every row is empty. */
  def reduce(genes: Array[Array[Int]], norm: Array[Array[Double]],
             numHvg: Int, numPcs: Int): Reduction = {
    val n = genes.length
    val nd = n.toDouble
    val numGenes = genes.iterator.flatMap(_.iterator).maxOption.fold(0)(_ + 1)
    val s = new Array[Double](numGenes)
    val ss = new Array[Double](numGenes)
    val nz = new Array[Long](numGenes)
    for (i <- 0 until n; e <- genes(i).indices) {
      val (g, x) = (genes(i)(e), norm(i)(e))
      s(g) += x; ss(g) += x * x; nz(g) += 1
    }
    def variance(g: Int) = (ss(g) - s(g) * s(g) / nd) / (nd - 1)
    // vst: loess of log10(variance) ~ log10(mean) over the genes that vary
    val varying = (0 until numGenes).filter(variance(_) > 0).toArray
    val expSd = new Array[Double](numGenes)
    if (varying.nonEmpty) {
      val fitted = Loess.fit(varying.map(g => math.log10(s(g) / nd)),
        varying.map(g => math.log10(variance(g))), 0.3)
      varying.indices.foreach(v => expSd(varying(v)) = expectedSd(fitted(v)))
    }
    val clip = clipMax(n)
    val znnz = new Array[Double](numGenes)
    for (i <- 0 until n; e <- genes(i).indices) {
      val g = genes(i)(e)
      if (expSd(g) > 0) {
        val zg = z(norm(i)(e), s(g) / nd, expSd(g), clip)
        znnz(g) += zg * zg
      }
    }
    def stdVariance(g: Int) = standardizedVariance(znnz(g), nz(g), n, s(g) / nd, expSd(g))
    val hvg = varying.sortBy(g => (-stdVariance(g), g)).take(numHvg)
    val table = hvg.map(g => HvgGene(g, s(g) / nd, variance(g), stdVariance(g)))
    val d = hvg.length
    val ord = Array.fill(numGenes)(-1)
    hvg.indices.foreach(o => ord(hvg(o)) = o)
    // ScaleData: z clipped at 10; an implicit zero sits at z0
    val sd = hvg.map(g => sigma(variance(g)))
    val z0 = hvg.indices.map(o => z(0.0, s(hvg(o)) / nd, sd(o), ScaleMax)).toArray
    // each cell's HVG entries as (ord, z − z0), ords ascending and the
    // last of a repeated gene kept: the dense row is z0 + δ
    val deltas = Array.tabulate(n) { i =>
      val es = genes(i).indices.filter(e => ord(genes(i)(e)) >= 0).map { e =>
        val o = ord(genes(i)(e))
        o -> (z(norm(i)(e), s(hvg(o)) / nd, sd(o), ScaleMax) - z0(o))
      }.toMap.toArray.sortBy(_._1)
      (es.map(_._1), es.map(_._2))
    }
    if (d == 0) return Reduction(table, Array.empty, Array.fill(n)(Array.empty[Double]))
    // covariance of the dense rows: (Σ δδᵀ − n·δ̄δ̄ᵀ) / (n − 1)
    val mean = new Array[Double](d)
    val cov = new Array[Double](d * d)
    for ((os, ds) <- deltas) {
      var a = 0
      while (a < os.length) {
        mean(os(a)) += ds(a)
        var b = a
        while (b < os.length) { cov(os(a) * d + os(b)) += ds(a) * ds(b); b += 1 }
        a += 1
      }
    }
    for (a <- 0 until d) mean(a) /= nd
    for (a <- 0 until d; b <- a until d) {
      val c = (cov(a * d + b) - nd * mean(a) * mean(b)) / (nd - 1)
      cov(a * d + b) = c; cov(b * d + a) = c
    }
    val (axes, varExp) = principalAxes(new breeze.linalg.DenseMatrix(d, d, cov), numPcs)
    val kEff = axes.length / d
    val base = Array.tabulate(kEff)(j => (0 until d).map(o => z0(o) * axes(j * d + o)).sum)
    Reduction(table, varExp, deltas.map { case (os, ds) =>
      Array.tabulate(kEff) { j =>
        var x = base(j); var e = 0
        while (e < os.length) { x += ds(e) * axes(j * d + os(e)); e += 1 }
        x
      }
    })
  }

  /** An upper bound on the bytes a task holds that gathers `nnz` rows of
    * `cells` cells and `genes` genes into a [[Gather.Matrix]] and runs
    * [[reduce]] on them: 100 per interned barcode or gene name; per row,
    * 24 in the row buffer (16, and the old half of a doubling copy), 12
    * sorted (gene and count, then gene and normalized value) and 24 for
    * its scaled HVG entry; three d² matrices (the covariance and its
    * eigen-decomposition) for d = min(numHvg, genes) selected genes; and
    * per cell 128 of array headers plus its embedding row. */
  private[graft] def taskBytes(cells: Long, genes: Long, nnz: Long, numHvg: Int,
                               numPcs: Int): Long = {
    val d = math.min(numHvg.toLong, genes)
    100 * (cells + genes) + RowBytes * nnz + 24 * d * d + cells * (128 + 8L * numPcs)
  }

  /** The per-row term of [[taskBytes]]. */
  private[graft] val RowBytes = 60L

  /** The top `min(k, d)` principal axes of a d×d covariance, as a
    * column-major d×kEff array, and each axis's share of the trace.
    *
    * The eigen-decomposition is `eigSym` (LAPACK dsyevd), not an SVD:
    * divide-and-conquer SVD (dgesdd, RowMatrix's own PCA route) fails
    * to converge on covariances with tightly repeated eigenvalues —
    * the domain soak's 20k-cell synthetic sample, whose duplicated
    * expression patterns produce exactly that spectrum, killed the
    * doublets stage that way — while the symmetric eigensolver is
    * robust there, and exact for a symmetric PSD matrix anyway. Axes
    * come in `(−λ, index)` order, and each is signed so that its
    * largest-|component| entry (the first on ties) is positive, so
    * embeddings do not depend on LAPACK's arbitrary orientation. */
  private[ml] def principalAxes(cov: breeze.linalg.DenseMatrix[Double],
                                k: Int): (Array[Double], Array[Double]) = {
    val d = cov.rows
    val es = breeze.linalg.eigSym(cov)
    val top = (0 until d).sortBy(i => (-es.eigenvalues(i), i)).take(math.min(k, d))
    val axes = new Array[Double](d * top.length)
    top.zipWithIndex.foreach { case (c, j) =>
      var mi = 0
      var i = 1
      while (i < d) {
        if (math.abs(es.eigenvectors(i, c)) > math.abs(es.eigenvectors(mi, c))) mi = i
        i += 1
      }
      val s = if (es.eigenvectors(mi, c) < 0) -1.0 else 1.0
      i = 0
      while (i < d) { axes(j * d + i) = s * es.eigenvectors(i, c); i += 1 }
    }
    val trace = (0 until d).map(i => cov(i, i)).sum
    val varExp = top.map(c =>
      math.max(0.0, es.eigenvalues(c)) / math.max(trace, Double.MinPositiveValue))
      .toArray
    (axes, varExp)
  }
}
