package graft.qc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distributed reference for [[Rlm.fitPerSample]]: the same Huber
  * IRLS with ALL samples fitted at once, each iteration two grouped
  * aggregations over the points (residual-scale MAD, then weighted
  * normal equations) and a per-sample 2×2 solve on the driver. Spark's
  * own `percentile` and `sum` compute every median and sum, so a
  * difference left against the one-task fit is summation order. */
object RlmReference {

  /** Per-sample `(sample, alpha, beta, sigma, xbar, sxx, n)`. */
  def fitPerSample(pts: DataFrame, xCol: String, yCol: String,
                   iters: Int = 8, huberK: Double = 1.345): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = pts.select(col("sample"), x.as("x"), y.as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // iteration state: sample -> (alpha, beta)
    def solve(stats: Array[(String, (Double, Double, Double, Double, Double))]): Map[String, (Double, Double)] =
      stats.map { case (s, (sw, swx, swy, swxx, swxy)) =>
        val denom = sw * swxx - swx * swx
        val beta = if (math.abs(denom) < 1e-12) 0.0 else (sw * swxy - swx * swy) / denom
        val alpha = (swy - beta * swx) / sw
        s -> (alpha, beta)
      }.toMap

    // OLS start (w = 1)
    var coeffs = solve(base.groupBy("sample").agg(
      count(lit(1)).cast("double").as("sw"), sum("x").as("swx"), sum("y").as("swy"),
      sum(col("x") * col("x")).as("swxx"), sum(col("x") * col("y")).as("swxy"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))))

    for (_ <- 1 to iters) {
      val cdf = coeffs.toSeq.map { case (s, (a, b)) => (s, a, b) }
        .toDF("sample", "__a", "__b")
      val withR = base.join(broadcast(cdf), "sample")
        .withColumn("__r", col("y") - col("__a") - col("__b") * col("x"))
      // robust scale: MAD * 1.4826 (exact percentile; post-reduction size)
      val scales = withR.groupBy("sample")
        .agg((expr("percentile(abs(__r), 0.5D)") * 1.4826).as("__s"))
      // weight 1 inside the Huber corner (incl. r = 0 — the division
      // must not evaluate there under ANSI mode)
      val weighted = withR.join(broadcast(scales), "sample")
        .withColumn("__w",
          when(col("__s") <= 0 ||
            abs(col("__r")) <= lit(huberK) * col("__s"), lit(1.0))
            .otherwise(lit(huberK) * col("__s") / abs(col("__r"))))
      coeffs = solve(weighted.groupBy("sample").agg(
        sum("__w").as("sw"), sum(col("__w") * col("x")).as("swx"),
        sum(col("__w") * col("y")).as("swy"),
        sum(col("__w") * col("x") * col("x")).as("swxx"),
        sum(col("__w") * col("x") * col("y")).as("swxy"))
        .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))))
    }

    val cdf = coeffs.toSeq.map { case (s, (a, b)) => (s, a, b) }
      .toDF("sample", "alpha", "beta")
    val out = base.join(broadcast(cdf), "sample")
      .withColumn("__r", col("y") - col("alpha") - col("beta") * col("x"))
      .groupBy("sample")
      .agg(
        first("alpha").as("alpha"), first("beta").as("beta"),
        count(lit(1)).as("n"), avg("x").as("xbar"),
        (expr("percentile(abs(__r), 0.5D)") * 1.4826).as("sigma"),
        (sum(col("x") * col("x")) - count(lit(1)) * avg("x") * avg("x")).as("sxx"))
      .select("sample", "alpha", "beta", "sigma", "xbar", "sxx", "n")
    val result = out.collect()
    base.unpersist()
    result.toSeq.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
      .toDF("sample", "alpha", "beta", "sigma", "xbar", "sxx", "n")
  }
}
