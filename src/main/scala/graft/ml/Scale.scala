package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ScaleData` semantics (`QC_helpers/dataIntegration.r:106`): per-gene
  * z-score of the log-normalized values, clipped at +10 (`scale.max`).
  *
  * Implicit zeros are handled analytically: a zero count has norm 0, so
  * its z-score is the per-gene constant `z0 = (0 − μ)/σ`. The scaled
  * matrix is therefore represented as (sparse nonzero z table, dense
  * per-gene z0 vector) — densification is deferred to the PCA row
  * builder and never materialized in a shuffle.
  */
object Scale {

  /** Seurat's `scale.max`: z-scores are clipped at +10. */
  val ScaleMax = 10.0

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

  /** Per-gene (μ, [[sigma]]) of the normalized value over ALL cells,
    * with the zero-inclusive correction. */
  def geneMoments(norm: DataFrame, nCells: Long, valueCol: String = "norm"): DataFrame = {
    val x = col(valueCol).cast("double")
    val sigmaOf = udf((variance: Double) => sigma(variance))
    norm.groupBy("gene")
      .agg(sum(x).as("__s"), sum(x * x).as("__ss"))
      .select(
        col("gene"),
        (col("__s") / nCells).as("mu"),
        sigmaOf((col("__ss") - col("__s") * col("__s") / nCells) / (nCells - 1))
          .as("sigma"))
  }

  /** Nonzero z-scores `(…, gene, z)`, [[z]] as a column expression. */
  def scaleData(norm: DataFrame, moments: DataFrame, clipMax: Double = ScaleMax,
                valueCol: String = "norm"): DataFrame =
    norm
      .join(broadcast(moments), "gene")
      .withColumn("z",
        least((col(valueCol) - col("mu")) / col("sigma"), lit(clipMax)))
      .drop("mu", "sigma")

  /** z-score of an implicit zero for each gene (broadcast side of the
    * PCA densification). */
  def zeroZ(moments: DataFrame, clipMax: Double = ScaleMax): DataFrame = {
    val zeroOf = udf((mu: Double, sd: Double) => z(0.0, mu, sd, clipMax))
    moments.withColumn("z0", zeroOf(col("mu"), col("sigma")))
  }
}
