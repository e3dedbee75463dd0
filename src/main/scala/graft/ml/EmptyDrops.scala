package graft.ml

import graft.operators.Stats
import org.apache.commons.math3.special.Gamma
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** emptyDrops — ambient-RNA goodness-of-fit test
  * (`2-1_Compute-metrics_emptyDrops.r:32-60`; DropletUtils::emptyDrops
  * semantics, published in Lun et al. 2019). The reference tests one
  * sample at a time; here every sample is scored in one plan (SURVEY
  * §2.9):
  *  - ONE driver collect gives, per (sample, gene), the ambient count
  *    (null when no barcode of total ≤ `lower` holds the gene), and per
  *    sample the ambient barcode count and the distinct candidate
  *    totals. The driver so holds G profile entries per sample, fits
  *    each sample's model and broadcasts one sample → model map;
  *  - the observed statistic of a candidate (total > `lower`) is one
  *    aggregation over the long table (`Σ x·log p − Σ lgamma(x+1)`; the
  *    `T!` term is constant per total and cancels in the comparison);
  *  - the Monte-Carlo null is one `range(samples × nIters)`: each row
  *    walks one simulated barcode of its sample from total 1 to the
  *    largest candidate total, seeded per (sample, run), and emits the
  *    statistic at every candidate total. Its samples × nIters ×
  *    distinct-candidate-totals rows are gathered per (sample, total)
  *    into one sorted array;
  *  - p = (#{sim ≤ obs} + 1)/(R + 1), the count a binary search in that
  *    array; `Limited` = no sim fell below (p could only shrink with
  *    more iterations); FDR = BH per sample (Stats.bhAdjust).
  *
  * A sample with fewer than `MinAmbient` ambient barcodes, or with no
  * candidate, is skipped and reported in `flagged` (`2-1:42-51` →
  * `flag_filtered`).
  *
  * Ambient proportions are Simple Good-Turing estimates
  * ([[GoodTuring]], DropletUtils' `.safe_good_turing`): genes absent
  * from the ambient pool share the unseen mass P0 = n₁/N (or a 1/N
  * pseudo-pool when the profile has no singletons). The null draws the
  * observed ambient genes, in gene-name order so that the draws do not
  * depend on the partitioning, with these probabilities renormalized;
  * its statistic keeps the UN-normalized log p of the observed side.
  * The per-sample driver loop this replaces is kept in the test sources
  * as `EmptyDropsReference`.
  */
object EmptyDrops {

  final case class Result(scores: DataFrame, flagged: Seq[String])

  /** The reference's floor on a sample's ambient pool (`2-1:44-51`). */
  private val MinAmbient = 50L

  /** A scored sample's model: `logP` of each profile gene, `logPseudo`
    * of any other; the null walk draws profile index i through `cum`,
    * adds `logPArr(i)` and emits at each of `totals` (ascending). */
  private final case class Model(logP: Map[String, Double], logPseudo: Double,
                                 cum: Array[Double], logPArr: Array[Double],
                                 totals: Array[Long], seedBase: Long)

  def run(expr: DataFrame, lower: Long = 100, nIters: Int = 1000): Result = {
    val spark = expr.sparkSession
    import spark.implicits._
    val totals = expr.groupBy("sample", "barcode").agg(sum("count").as("total"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the one driver collect: gene rows have a null nAmbient
    val geneRows = expr.join(totals, Seq("sample", "barcode"))
      .groupBy("sample", "gene")
      .agg(sum(when(col("total") <= lower, col("count"))).as("acount"))
      .select(col("sample"), col("gene"), col("acount"),
        lit(null).cast("long").as("nAmbient"), lit(null).cast("array<bigint>").as("cands"))
    val sampleRows = totals.groupBy("sample")
      .agg(count(when(col("total") <= lower, 1)).as("nAmbient"),
        collect_set(when(col("total") > lower, col("total"))).as("cands"))
      .select(col("sample"), lit(null).cast("string").as("gene"),
        lit(null).cast("long").as("acount"), col("nAmbient"), col("cands"))
    val (perSample, perGene) = geneRows.unionByName(sampleRows).collect()
      .partition(!_.isNullAt(3))
    totals.unpersist()
    val genesOf = perGene.groupBy(_.getString(0))

    val models = perSample.flatMap { r =>
      val sample = r.getString(0)
      val cands = r.getSeq[Long](4).toArray.sorted
      if (r.getLong(3) < MinAmbient || cands.isEmpty) None
      else {
        val (seen, unseen) = genesOf(sample).partition(!_.isNullAt(2))
        // gene order fixes the null's draws: sort, never trust collect order
        val profile = seen.map(g => (g.getString(1), g.getLong(2))).sortBy(_._1)
        val ambientTotal = profile.map(_._2).sum.toDouble
        val (pByCount, pUnseen) = GoodTuring.proportions(profile.map(_._2).toSeq, unseen.length)
        val pArr = profile.map { case (_, c) => pByCount(c) }
        val pSum = pArr.sum
        val logPArr = pArr.map(math.log)
        Some(sample -> Model(
          logP = profile.map(_._1).zip(logPArr).toMap,
          logPseudo = math.log(if (pUnseen > 0) pUnseen else 0.5 / ambientTotal),
          cum = pArr.map(_ / pSum).scanLeft(0.0)(_ + _).tail,
          logPArr = logPArr, totals = cands, seedBase = sample.hashCode.toLong << 20))
      }
    }.toMap
    val flagged = perSample.map(_.getString(0)).filterNot(models.contains).sorted.toSeq
    if (models.isEmpty) {
      // no rows, but the same columns as a scored run
      return Result(Seq.empty[(String, String, Long, Double, Double, Boolean, Double)]
        .toDF("sample", "barcode", "emptyDrops_Total", "emptyDrops_LogProb",
          "emptyDrops_PValue", "emptyDrops_Limited", "emptyDrops_FDR"), flagged)
    }
    val bModels = spark.sparkContext.broadcast(models)
    val scored = models.keys.toArray.sorted

    // observed statistic per candidate barcode (total > lower)
    val term = udf { (sample: String, gene: String, count: Long) =>
      val m = bModels.value(sample)
      count * m.logP.getOrElse(gene, m.logPseudo) - Gamma.logGamma(count.toDouble + 1.0)
    }
    val obs = expr.filter(col("sample").isin(scored: _*))
      .groupBy("sample", "barcode")
      .agg(sum("count").as("total"), sum(term(col("sample"), col("gene"), col("count"))).as("obs_stat"))
      .filter(col("total") > lower)

    // Monte-Carlo null: row i walks run i % nIters of sample i / nIters
    val sims = spark.range(scored.length.toLong * nIters).rdd.flatMap { i =>
      val sample = scored((i / nIters).toInt)
      val m = bModels.value(sample)
      val cum = m.cum; val lp = m.logPArr; val needed = m.totals
      val rng = new java.util.SplittableRandom(m.seedBase + i % nIters)
      val counts = new Array[Long](lp.length)
      val out = Array.newBuilder[(String, Long, Double)]
      var stat = 0.0; var nIdx = 0; var t = 1L
      while (t <= needed.last && nIdx < needed.length) {
        val u = rng.nextDouble()
        var loIdx = 0; var hiIdx = cum.length - 1
        while (loIdx < hiIdx) {
          val mid = (loIdx + hiIdx) >>> 1
          if (cum(mid) < u) loIdx = mid + 1 else hiIdx = mid
        }
        counts(loIdx) += 1
        stat += lp(loIdx) - math.log(counts(loIdx).toDouble)
        if (t == needed(nIdx)) { out += ((sample, t, stat)); nIdx += 1 }
        t += 1
      }
      out.result()
    }.toDF("sample", "total", "sim_stat")
      .groupBy("sample", "total")
      .agg(array_sort(collect_list("sim_stat")).as("sims"))

    // #{sim <= obs}: the first index of the ascending array above obs
    val nBelow = udf { (sims: Seq[Double], obs: Double) =>
      var lo = 0; var hi = if (sims == null) 0 else sims.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sims(mid) > obs) hi = mid else lo = mid + 1
      }
      lo.toLong
    }
    val withP = obs.join(sims, Seq("sample", "total"), "left")
      .withColumn("n_below", nBelow(col("sims"), col("obs_stat")))
      .select(col("sample"), col("barcode"), col("total").as("emptyDrops_Total"),
        col("obs_stat").as("emptyDrops_LogProb"),
        ((col("n_below") + 1).cast("double") / (nIters + 1.0)).as("emptyDrops_PValue"),
        (col("n_below") === 0).as("emptyDrops_Limited"))
    Result(Stats.bhAdjust(withP, "emptyDrops_PValue", "emptyDrops_FDR",
      partitionCols = Seq("sample")), flagged)
  }
}
