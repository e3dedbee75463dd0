package graft.ml

import graft.operators.Stats
import org.apache.commons.math3.special.Gamma
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-sample reference for [[EmptyDrops.run]]: a driver loop over
  * the samples, each filtered out of the long table and tested on its
  * own (a count, a profile collect, a distinct-gene count, a collect of
  * the candidate totals, five broadcasts), with every simulated
  * statistic joined to every candidate barcode of its total. The
  * profile is sorted by gene before the Good-Turing fit, as in
  * `EmptyDrops`, so both draw the same null and their `n_below` counts
  * agree; what is left to differ is the summation order of the
  * observed statistic. */
object EmptyDropsReference {

  private val MinAmbient = 50L

  def run(expr: DataFrame, lower: Long = 100, nIters: Int = 1000): EmptyDrops.Result = {
    val spark = expr.sparkSession
    import spark.implicits._
    val samples = expr.select("sample").distinct()
      .collect().map(_.getString(0)).sorted
    val perSample = samples.toSeq.map { s =>
      s -> runSample(expr.filter(col("sample") === s), s, lower, nIters)
    }
    val flagged = perSample.collect { case (s, None) => s }
    val scored = perSample.collect { case (_, Some(df)) => df }
    val scores = scored.reduceOption(_ unionByName _).getOrElse(
      Seq.empty[(String, String, Long, Double, Double, Boolean, Double)]
        .toDF("sample", "barcode", "emptyDrops_Total", "emptyDrops_LogProb",
          "emptyDrops_PValue", "emptyDrops_Limited", "emptyDrops_FDR"))
    EmptyDrops.Result(scores, flagged)
  }

  private def runSample(expr: DataFrame, sample: String, lower: Long,
                        nIters: Int): Option[DataFrame] = {
    val spark = expr.sparkSession
    import spark.implicits._
    val totals = expr.groupBy("sample", "barcode")
      .agg(sum("count").as("total"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ambientBarcodes = totals.filter(col("total") <= lower)
    if (ambientBarcodes.count() < MinAmbient) { totals.unpersist(); return None }

    val ambientCounts = expr
      .join(ambientBarcodes.select("sample", "barcode"), Seq("sample", "barcode"), "left_semi")
      .groupBy("gene").agg(sum("count").as("acount"))
    val profileRows = ambientCounts.collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val ambientTotal = profileRows.map(_._2).sum.toDouble
    val nUnseen = expr.select("gene").distinct().count() - profileRows.length
    val (pByCount, pUnseen) =
      GoodTuring.proportions(profileRows.map(_._2).toSeq, nUnseen)
    val pObs = profileRows.map { case (g, c) => (g, pByCount(c)) }
    val logP = pObs.map { case (g, p) => (g, math.log(p)) }.toMap
    val logPseudo = math.log(if (pUnseen > 0) pUnseen else 0.5 / ambientTotal)
    val bLogP = spark.sparkContext.broadcast(logP)
    val bPseudo = spark.sparkContext.broadcast(logPseudo)

    val candidates = totals.filter(col("total") > lower)
    val statUdf = udf { (gene: String, count: Long) =>
      val lp = bLogP.value.getOrElse(gene, bPseudo.value)
      count * lp - Gamma.logGamma(count.toDouble + 1.0)
    }
    val obs = expr
      .join(candidates.select("sample", "barcode"), Seq("sample", "barcode"), "left_semi")
      .withColumn("__part", statUdf(col("gene"), col("count")))
      .groupBy("sample", "barcode")
      .agg(sum("__part").as("obs_stat"))
      .join(candidates, Seq("sample", "barcode"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val neededTotals = obs.select("total").distinct()
      .collect().map(_.getLong(0)).sorted
    if (neededTotals.isEmpty) { totals.unpersist(); obs.unpersist(); return None }
    val maxTotal = neededTotals.last
    val pArr = pObs.map(_._2)
    val pSum = pArr.sum
    val probs = pArr.map(_ / pSum)
    val logPArr = pArr.map(math.log)
    val cumProbs = probs.scanLeft(0.0)(_ + _).tail
    val bCum = spark.sparkContext.broadcast(cumProbs)
    val bLogPArr = spark.sparkContext.broadcast(logPArr)
    val bNeeded = spark.sparkContext.broadcast(neededTotals)
    val seedBase = sample.hashCode.toLong << 20

    val sims = spark.range(nIters).rdd.flatMap { run =>
      val cum = bCum.value; val lp = bLogPArr.value; val needed = bNeeded.value
      val rng = new java.util.SplittableRandom(seedBase + run)
      val counts = new Array[Long](lp.length)
      var stat = 0.0
      var nIdx = 0
      val out = Array.newBuilder[(Long, Double)]
      var t = 1L
      while (t <= maxTotal && nIdx < needed.length) {
        val u = rng.nextDouble()
        var loIdx = 0; var hiIdx = cum.length - 1
        while (loIdx < hiIdx) {
          val mid = (loIdx + hiIdx) >>> 1
          if (cum(mid) < u) loIdx = mid + 1 else hiIdx = mid
        }
        counts(loIdx) += 1
        stat += lp(loIdx) - math.log(counts(loIdx).toDouble)
        if (t == needed(nIdx)) { out += ((t, stat)); nIdx += 1 }
        t += 1
      }
      out.result()
    }.toDF("total", "sim_stat")

    val exceed = sims.join(obs.select("sample", "barcode", "total", "obs_stat"), Seq("total"))
      .groupBy("sample", "barcode")
      .agg(count(when(col("sim_stat") <= col("obs_stat"), 1)).as("n_below"))
    val scored = obs
      .join(exceed, Seq("sample", "barcode"), "left")
      .withColumn("n_below", coalesce(col("n_below"), lit(0L)))
      .select(
        col("sample"), col("barcode"),
        col("total").as("emptyDrops_Total"),
        col("obs_stat").as("emptyDrops_LogProb"),
        ((col("n_below") + 1).cast("double") / (nIters + 1.0)).as("emptyDrops_PValue"),
        (col("n_below") === 0).as("emptyDrops_Limited"))
    Some(Stats.bhAdjust(scored, "emptyDrops_PValue", "emptyDrops_FDR",
      partitionCols = Seq("sample")))
  }
}
