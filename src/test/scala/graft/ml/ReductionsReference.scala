package graft.ml

import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.mllib.linalg.distributed.{IndexedRow, IndexedRowMatrix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The distributed reference for [[Pca.reduce]] and
  * [[graft.qc.DataIntegration.run]]: LogNormalize → vst HVG → ScaleData
  * → PCA as DataFrame plans over the long `(sample, barcode, gene,
  * count)` table, implicit zeros kept implicit by analytic
  * zero-correction. The HVG moments and the scaled values are grouped
  * aggregations and joins, the loess a driver kernel over the collected
  * per-gene stats, and the PCA densifies each cell's row for MLlib's
  * Gramian covariance and `IndexedRowMatrix.multiply`. What is left to
  * differ from the kernel is the floating-point order of every sum. It
  * launches ~57 Spark jobs where the kernel runs in one task. */
object ReductionsReference {

  /** `LogNormalize`: `norm = log1p(count / cellTotal · 1e4)`, as a grouped
    * sum and an equi join keyed `(sample, barcode)`. */
  def logNormalize(expr: DataFrame, scaleFactor: Double = Pca.ScaleFactor): DataFrame = {
    val totals = expr
      .groupBy("sample", "barcode")
      .agg(sum("count").as("__total"))
    expr
      .join(totals, Seq("sample", "barcode"))
      .withColumn("norm",
        log1p(col("count").cast("double") / col("__total") * scaleFactor))
      .drop("__total")
  }

  /** Per-gene mean/variance over ALL cells (implicit zeros included):
    * `var = (Σx² − n·μ²)/(n−1)`. `nCells` is the total cell count. */
  def geneStats(expr: DataFrame, nCells: Long, valueCol: String = "count"): DataFrame = {
    val x = col(valueCol).cast("double")
    expr
      .groupBy("gene")
      .agg(sum(x).as("__s"), sum(x * x).as("__ss"), count(lit(1)).as("nnz"))
      .select(
        col("gene"),
        (col("__s") / nCells).as("mean"),
        ((col("__ss") - col("__s") * col("__s") / nCells) / (nCells - 1))
          .as("variance"),
        col("nnz"))
  }

  /** vst standardized variance + top-N cut: the loess trend over the
    * collected stats of the genes that vary, the clipped z-scores'
    * grouped sums, then `orderBy + limit` and a driver re-rank.
    * Returns `(gene, mean, variance, variance_standardized, hvg_rank)`. */
  def selectHvg(expr: DataFrame, nCells: Long, numGenes: Int = 2000,
                valueCol: String = "count", span: Double = 0.3): DataFrame = {
    val spark = expr.sparkSession
    val stats = geneStats(expr, nCells, valueCol)
      .filter(col("variance") > 0)
    val pts = stats.select("gene", "mean", "variance").collect()
    val xs = pts.map(r => math.log10(r.getDouble(1)))
    val ys = pts.map(r => math.log10(r.getDouble(2)))
    val fitted = Loess.fit(xs, ys, span)
    val sdRows = pts.indices.map(i => (pts(i).getString(0), Pca.expectedSd(fitted(i))))
    import spark.implicits._
    val expected = sdRows.toDF("gene", "exp_sd")
    val x = col(valueCol).cast("double")
    val z = least((x - col("mean")) / col("exp_sd"), lit(Pca.clipMax(nCells)))
    val stdParts = expr
      .join(broadcast(stats.select("gene", "mean").join(expected, "gene")), "gene")
      .groupBy("gene")
      .agg(sum(z * z).as("__znnz"), count(lit(1)).as("__nnz"))
    val stdVariance = udf((zSq: Double, nnz: Long, mean: Double, sd: Double) =>
      Pca.standardizedVariance(zSq, nnz, nCells, mean, sd))
    val withStd = stats
      .join(broadcast(expected), "gene")
      .join(stdParts, "gene")
      .withColumn("variance_standardized",
        stdVariance(col("__znnz"), col("__nnz"), col("mean"), col("exp_sd")))
    val topRows = withStd
      .select("gene", "mean", "variance", "variance_standardized")
      .orderBy(col("variance_standardized").desc, col("gene"))
      .limit(numGenes)
      .collect()
    topRows.sortBy(r => (-r.getDouble(3), r.getString(0)))
      .zipWithIndex.map { case (r, i) =>
        (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), i + 1)
      }.toSeq
      .toDF("gene", "mean", "variance", "variance_standardized", "hvg_rank")
  }

  /** Dense 0-based ordinal for a selected gene set, by rank — the
    * column index of the virtual cells × genes matrix fed to PCA. */
  def ordinals(hvg: DataFrame): DataFrame =
    hvg.select(col("gene"), (col("hvg_rank") - 1).cast("int").as("gene_ord"))

  /** Per-gene (μ, [[Pca.sigma]]) of the normalized value over ALL cells. */
  def geneMoments(norm: DataFrame, nCells: Long, valueCol: String = "norm"): DataFrame = {
    val x = col(valueCol).cast("double")
    val sigmaOf = udf((variance: Double) => Pca.sigma(variance))
    norm.groupBy("gene")
      .agg(sum(x).as("__s"), sum(x * x).as("__ss"))
      .select(
        col("gene"),
        (col("__s") / nCells).as("mu"),
        sigmaOf((col("__ss") - col("__s") * col("__s") / nCells) / (nCells - 1))
          .as("sigma"))
  }

  /** Nonzero z-scores `(…, gene, z)`, [[Pca.z]] as a column expression. */
  def scaleData(norm: DataFrame, moments: DataFrame, clipMax: Double = Pca.ScaleMax,
                valueCol: String = "norm"): DataFrame =
    norm
      .join(broadcast(moments), "gene")
      .withColumn("z",
        least((col(valueCol) - col("mu")) / col("sigma"), lit(clipMax)))
      .drop("mu", "sigma")

  /** z-score of an implicit zero for each gene. */
  def zeroZ(moments: DataFrame, clipMax: Double = Pca.ScaleMax): DataFrame = {
    val zeroOf = udf((mu: Double, sd: Double) => Pca.z(0.0, mu, sd, clipMax))
    moments.withColumn("z0", zeroOf(col("mu"), col("sigma")))
  }

  /** PCA of the sparse scaled table `(cells_id, gene_ord, z)` plus the
    * per-gene implicit-zero z-vector: (embeddings `(cells_id, pc)`,
    * variance explained per component). `allCells` supplies the id
    * universe: a cell with no nonzero entry on the selected genes still
    * owns the all-z0 row. */
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
    mat.rows.persist(StorageLevel.MEMORY_AND_DISK)
    val covMat = mat.toRowMatrix().computeCovariance()
    val d = covMat.numCols
    val (axes, varExp) = Pca.principalAxes(
      new breeze.linalg.DenseMatrix(d, d, covMat.toArray), k)
    val pc = new org.apache.spark.mllib.linalg.DenseMatrix(d, axes.length / d, axes)
    val emb = mat.multiply(pc)
    import spark.implicits._
    val embDf = emb.rows
      .map(r => (r.index, r.vector.toArray))
      .toDF("cells_id", "pc")
    (embDf, varExp)
  }

  /** The whole chain as `DataIntegration.run` ran it before the kernel:
    * (embeddings, variance explained, HVG table). */
  def run(expr: DataFrame, cells: DataFrame, numHvg: Int, numPcs: Int)
      : (DataFrame, Array[Double], DataFrame) = {
    val keyed = expr.join(
      cells.select("sample", "barcode", "cells_id"),
      Seq("sample", "barcode"), "left_semi")
    val nCells = cells.count()
    val norm = logNormalize(keyed).persist(StorageLevel.MEMORY_AND_DISK)
    val hvg = selectHvg(norm, nCells, numHvg, valueCol = "norm")
    val ords = ordinals(hvg)
    val normHvg = norm.join(broadcast(ords), "gene")
    val moments = geneMoments(normHvg, nCells).persist(StorageLevel.MEMORY_AND_DISK)
    val scaled = scaleData(normHvg, moments)
    val zz = zeroZ(moments).join(broadcast(ords), "gene")
      .select("gene_ord", "z0").collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    val pcaIn = scaled
      .join(cells.select("sample", "barcode", "cells_id"), Seq("sample", "barcode"))
      .select("cells_id", "gene_ord", "z")
    val (emb, varExp) = fit(pcaIn, zz, numPcs, allCells = Some(cells.select("cells_id")))
    norm.unpersist(); moments.unpersist()
    (emb, varExp, hvg)
  }
}
