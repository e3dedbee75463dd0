package graft.ml

import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.mllib.linalg.distributed.{IndexedRow, IndexedRowMatrix}
import org.apache.spark.sql.DataFrame

/** `RunPCA(npcs = 50)` (`QC_helpers/dataIntegration.r:109`; scree
  * variance at `:35-36`) on the scaled HVG matrix.
  *
  * Input is the sparse scaled table `(cells_id, gene_ord, z)` plus the
  * per-gene implicit-zero z-vector; rows are densified per cell inside
  * a mapPartitions (cells × numGenes ≤ 2000 doubles — 16 KB/row), the
  * 2000×2000 covariance is computed distributed by MLlib's Gramian,
  * and only the eigen-decomposition runs on the driver. Embeddings
  * come from `IndexedRowMatrix.multiply`, keeping `cells_id` keys
  * aligned end-to-end.
  */
object Pca {

  /** Returns (embeddings `(cells_id, pc: array<double>)`,
    * variance-explained per component). `allCells` supplies the id
    * universe: a cell with NO nonzero entry on the selected genes has
    * no row in `scaled` but still owns the all-z0 dense row — without
    * it the cell would silently vanish from the embedding. */
  def fit(scaled: DataFrame, zeroZByOrd: Array[Double], k: Int = 50,
          allCells: Option[DataFrame] = None): (DataFrame, Array[Double]) = {
    val spark = scaled.sparkSession
    val bz = spark.sparkContext.broadcast(zeroZByOrd)
    val grouped = scaled
      .select("cells_id", "gene_ord", "z").rdd
      .map(r => (r.getLong(0), (r.getInt(1), r.getDouble(2))))
      .aggregateByKey(List.empty[(Int, Double)])(
        (acc, v) => v :: acc, (a, b) => a ::: b)
    def mkRow(cid: Long, nz: List[(Int, Double)]): IndexedRow = {
      val arr = bz.value.clone()
      nz.foreach { case (g, z) => arr(g) = z }
      IndexedRow(cid, Vectors.dense(arr))
    }
    val rows = allCells match {
      case Some(ids) => ids.select("cells_id").rdd
        .map(r => (r.getLong(0), ()))
        .leftOuterJoin(grouped)
        .map { case (cid, (_, nz)) => mkRow(cid, nz.getOrElse(Nil)) }
      case None => grouped.map { case (cid, nz) => mkRow(cid, nz) }
    }
    val mat = new IndexedRowMatrix(rows)
    mat.rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // covariance is computed distributed (MLlib Gramian); only the d×d
    // eigen-decomposition runs on the driver
    val covMat = mat.toRowMatrix().computeCovariance()
    val d = covMat.numCols
    val (axes, varExp) = principalAxes(
      new breeze.linalg.DenseMatrix(d, d, covMat.toArray), k)
    val pc = new org.apache.spark.mllib.linalg.DenseMatrix(d, axes.length / d, axes)
    val emb = mat.multiply(pc)
    import spark.implicits._
    val embDf = emb.rows
      .map(r => (r.index, r.vector.toArray))
      .toDF("cells_id", "pc")
    (embDf, varExp)
  }

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
