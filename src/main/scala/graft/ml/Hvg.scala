package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Highly-variable-gene selection — `FindVariableFeatures(vst, top
  * numGenes)` semantics (`QC_helpers/dataIntegration.r:93,102`; the
  * 2000 default comes from the config at `4_Prepare_experiment.r:256`).
  *
  * The long table omits zeros, so every moment is computed with
  * analytic zero-correction from `(Σx, Σx², nnz)` and the total cell
  * count — no densification, one grouped aggregation per pass.
  */
object Hvg {

  /** Per-gene mean/variance over ALL cells (implicit zeros included):
    * `var = (Σx² − n·μ²)/(n−1)`. Input must carry `gene` and the value
    * column; `nCells` is the total cell count of the matrix. */
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

  /** vst standardized variance + top-N cut. Steps (Seurat semantics):
    *  1. per-gene raw mean/variance (zero-corrected);
    *  2. loess of log10(var) ~ log10(mean) over genes with var > 0
    *     (driver kernel on ≤ genes points — the only collect here);
    *  3. expected sd = sqrt(10^fitted); standardized value
    *     z = (x − μ)/sd clipped at sqrt(nCells) (one-sided, counts are
    *     non-negative); standardized variance = [Σ_nonzero z_clip² +
    *     (n − nnz)·z0²]/(n−1) with z0 = −μ/sd the implicit-zero term;
    *  4. rank descending, take numGenes.
    * Returns `(gene, mean, variance, variance_standardized, hvg_rank)`.
    */
  def selectHvg(expr: DataFrame, nCells: Long, numGenes: Int = 2000,
                valueCol: String = "count", span: Double = 0.3): DataFrame = {
    val spark = expr.sparkSession
    val stats = geneStats(expr, nCells, valueCol)
      .filter(col("variance") > 0)
    val pts = stats.select("gene", "mean", "variance").collect()
    val xs = pts.map(r => math.log10(r.getDouble(1)))
    val ys = pts.map(r => math.log10(r.getDouble(2)))
    val fitted = Loess.fit(xs, ys, span)
    val sdRows = pts.indices.map(i => (pts(i).getString(0), expectedSd(fitted(i))))
    import spark.implicits._
    val expected = sdRows.toDF("gene", "exp_sd")
    val x = col(valueCol).cast("double")
    val z = least((x - col("mean")) / col("exp_sd"), lit(clipMax(nCells)))
    val stdParts = expr
      .join(broadcast(stats.select("gene", "mean").join(expected, "gene")), "gene")
      .groupBy("gene")
      .agg(sum(z * z).as("__znnz"), count(lit(1)).as("__nnz"))
    val stdVariance = udf((zSq: Double, nnz: Long, mean: Double, sd: Double) =>
      standardizedVariance(zSq, nnz, nCells, mean, sd))
    val withStd = stats
      .join(broadcast(expected), "gene")
      .join(stdParts, "gene")
      .withColumn("variance_standardized",
        stdVariance(col("__znnz"), col("__nnz"), col("mean"), col("exp_sd")))
    // top-N via orderBy+limit = TakeOrderedAndProject (per-partition
    // heaps, no global-order shuffle), NOT a global rank window (which
    // would drag every gene into one WindowExec partition). The re-rank
    // happens on the driver: ≤ numGenes rows post-reduction, same
    // boundedness as the loess collect above.
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
}
