package graft.qc

import org.apache.commons.math3.distribution.TDistribution
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust linear regression with a prediction band — the engine's
  * re-expression of `MASS::rlm(genes ~ molecules)` + `predict(interval
  * = "prediction", level = 1 − p.level)` in the numGenesVsNumUmis step
  * (`QC_helpers/numGenesVsNumUmis.r:71-85`).
  *
  * IRLS with Huber weights, one line per sample, as ONE lazy plan: the
  * points are grouped by sample and each sample is fitted inside one
  * task (OLS start, 8 reweighting steps, MAD scale from the exact local
  * median). Nothing runs until a caller reads the result. A task holds
  * one sample's `(x, y)` doubles, 16 B per cell, plus an 8 B per cell
  * scratch for the median: 2.4 MB for a 100,000-cell sample. Per SURVEY
  * §7.4 the accepted parity is algorithmic, not bitwise with R's rlm
  * internals.
  */
object Rlm {

  private val Iters = 8
  private val HuberK = 1.345
  /** MAD → σ for normal residuals. */
  private val MadToSigma = 1.4826

  /** Per-sample fit `(sample, alpha, beta, sigma, xbar, sxx, n)` for
    * y ≈ alpha + beta·x over the rows with both coordinates set.
    * `sigma` is the robust MAD residual scale (what `rlm` reports as
    * `s`) — an SSE-based scale would be blown up by exactly the
    * outliers the band is meant to exclude. */
  def fitPerSample(pts: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    pts.select(col("sample"), col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .as[(String, Double, Double)].groupByKey(_._1)
      .mapGroups((sample, rows) => fit(sample, rows))
      .toDF("sample", "alpha", "beta", "sigma", "xbar", "sxx", "n")
  }

  private def fit(sample: String, rows: Iterator[(String, Double, Double)]) = {
    val xs = Array.newBuilder[Double]; val ys = Array.newBuilder[Double]
    rows.foreach { case (_, x, y) => xs += x; ys += y }
    val (x, y) = (xs.result(), ys.result()); val n = x.length
    def absR(i: Int, a: Double, b: Double) = math.abs(y(i) - a - b * x(i))
    // exact median of |r|, interpolated like Spark's `percentile(…, 0.5)`
    val scratch = new Array[Double](n)
    def scale(a: Double, b: Double): Double = {
      for (i <- 0 until n) scratch(i) = absR(i, a, b)
      java.util.Arrays.sort(scratch)
      val m = n / 2
      (if (n % 2 == 1) scratch(m) else 0.5 * scratch(m - 1) + 0.5 * scratch(m)) * MadToSigma
    }
    // weighted normal equations; a degenerate x spread gives slope 0
    def solve(w: Int => Double): (Double, Double) = {
      var sw, swx, swy, swxx, swxy = 0.0
      for (i <- 0 until n) {
        val wi = w(i)
        sw += wi; swx += wi * x(i); swy += wi * y(i)
        swxx += wi * x(i) * x(i); swxy += wi * x(i) * y(i)
      }
      val denom = sw * swxx - swx * swx
      val beta = if (math.abs(denom) < 1e-12) 0.0 else (sw * swxy - swx * swy) / denom
      ((swy - beta * swx) / sw, beta)
    }
    // OLS start, then Huber reweighting
    val (alpha, beta) = (1 to Iters).foldLeft(solve(_ => 1.0)) { case ((a, b), _) =>
      val s = scale(a, b)
      solve { i =>
        val r = absR(i, a, b)
        if (s <= 0 || r <= HuberK * s) 1.0 else HuberK * s / r
      }
    }
    val xbar = x.sum / n
    (sample, alpha, beta, scale(alpha, beta), xbar, x.map(v => (v - xbar) * (v - xbar)).sum, n.toLong)
  }

  /** Student-t two-sided quantile `(p_level, df)` for the prediction
    * band; null when `df ≤ 0` or `p_level` is null, i.e. no band. */
  val tQuantile = udf { (pLevel: Double, df: Long) =>
    if (df <= 0) None
    else Some(new TDistribution(df.toDouble).inverseCumulativeProbability(1.0 - pLevel / 2.0))
  }
}
