package graft.ml

import graft.operators.Stats
import org.apache.commons.math3.special.Gamma
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** emptyDrops — ambient-RNA goodness-of-fit test
  * (`2-1_Compute-metrics_emptyDrops.r:32-60`; DropletUtils::emptyDrops
  * semantics, published in Lun et al. 2019).
  *
  * Decomposition (SURVEY §2.9):
  *  - ambient profile = one grouped sum over the sub-`lower` pool;
  *  - per-barcode multinomial statistic = one join + aggregation over
  *    the long table (`stat = Σ x·log p − Σ lgamma(x+1)`; the `T!`
  *    term is constant per total and cancels in the Monte-Carlo
  *    comparison);
  *  - the Monte-Carlo null is embarrassingly parallel ACROSS RUNS:
  *    each task walks one simulated barcode incrementally from total 1
  *    to maxTotal, emitting the statistic at every observed total —
  *    O(maxTotal·log G) per run, seeded deterministically per
  *    (sample, run);
  *  - p-value = (#{sim ≤ obs} + 1)/(R + 1), `Limited` = no sim fell
  *    below (p could only shrink with more iterations);
  *  - FDR = BH over tested barcodes (Stats.bhAdjust — gate query Q30).
  *
  * Samples with < `minAmbient` ambient barcodes are skipped and
  * reported in `flagged` (`2-1:42-51` → `flag_filtered`).
  *
  * Ambient proportions are Simple Good-Turing estimates
  * ([[GoodTuring]], the DropletUtils `.safe_good_turing` semantics):
  * observed genes get SGT-shrunk probabilities, genes absent from the
  * ambient pool share the unseen mass P0 = n₁/N (or a 1/N pseudo-pool
  * when the profile has no singletons). The Monte-Carlo null samples
  * the observed ambient genes with these probabilities renormalized;
  * its statistic term uses the UN-normalized log p, identical to the
  * observed side, so the two stats stay comparable.
  */
object EmptyDrops {

  final case class Result(scores: DataFrame, flagged: Seq[String])

  def run(expr: DataFrame, lower: Long = 100, nIters: Int = 1000,
          minAmbient: Long = 50): Result = {
    val spark = expr.sparkSession
    import spark.implicits._
    val samples = expr.select("sample").distinct()
      .collect().map(_.getString(0)).sorted
    // samples are independent: submit their jobs CONCURRENTLY (the
    // reference loops them serially — SURVEY §4.1 names per-sample
    // parallelism the single biggest speedup over it). Results keyed
    // by sample, so completion order cannot affect the output.
    val perSample = Concurrency.mapSamples(samples.toIndexedSeq) { s =>
      s -> runSample(expr.filter(col("sample") === s), s, lower, nIters, minAmbient)
    }
    val flagged = perSample.collect { case (s, None) => s }
    val scored = perSample.collect { case (_, Some(df)) => df }
    // every sample flagged: no rows, but the same columns as a scored run
    val scores = scored.reduceOption(_ unionByName _).getOrElse(
      Seq.empty[(String, String, Long, Double, Double, Boolean, Double)]
        .toDF("sample", "barcode", "emptyDrops_Total", "emptyDrops_LogProb",
          "emptyDrops_PValue", "emptyDrops_Limited", "emptyDrops_FDR"))
    Result(scores, flagged.toSeq)
  }

  private def runSample(expr: DataFrame, sample: String, lower: Long,
                        nIters: Int, minAmbient: Long): Option[DataFrame] = {
    val spark = expr.sparkSession
    import spark.implicits._
    val totals = expr.groupBy("sample", "barcode")
      .agg(sum("count").as("total"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ambientBarcodes = totals.filter(col("total") <= lower)
    if (ambientBarcodes.count() < minAmbient) { totals.unpersist(); return None }

    // ambient profile: Good-Turing proportions over the pooled
    // sub-lower pool (per-gene counts reduced distributed, the G-sized
    // vector fit on the driver)
    val ambientCounts = expr
      .join(ambientBarcodes.select("sample", "barcode"), Seq("sample", "barcode"), "left_semi")
      .groupBy("gene").agg(sum("count").as("acount"))
    val profileRows = ambientCounts.collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val ambientTotal = profileRows.map(_._2).sum.toDouble
    val nUnseen = expr.select("gene").distinct().count() - profileRows.length
    val (pByCount, pUnseen) =
      GoodTuring.proportions(profileRows.map(_._2).toSeq, nUnseen)
    val pObs = profileRows.map { case (g, c) => (g, pByCount(c)) }
    val logP = pObs.map { case (g, p) => (g, math.log(p)) }.toMap
    val logPseudo = math.log(if (pUnseen > 0) pUnseen else 0.5 / ambientTotal)
    val bLogP = spark.sparkContext.broadcast(logP)
    val bPseudo = spark.sparkContext.broadcast(logPseudo)

    // observed statistic per candidate barcode (total > lower)
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

    // Monte-Carlo null: incremental simulated barcodes, one run per task
    val neededTotals = obs.select("total").distinct()
      .collect().map(_.getLong(0)).sorted
    if (neededTotals.isEmpty) { totals.unpersist(); obs.unpersist(); return None }
    val maxTotal = neededTotals.last
    // sample from the GT profile renormalized over observed genes; the
    // statistic term keeps the UN-normalized log p so sim and obs stats
    // share the same per-gene constants
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

    // p = (#{sim <= obs} + 1)/(R+1); Limited = none below
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
    val withFdr = Stats.bhAdjust(scored, "emptyDrops_PValue", "emptyDrops_FDR",
      partitionCols = Seq("sample"))
    totals.unpersist(); obs.unpersist()
    Some(withFdr)
  }
}
