package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Doublet scoring — scDblFinder semantics (`2-2_Compute-metrics_
  * doublets.r:34-36`): simulate artificial doublets by summing random
  * cell pairs, embed real + artificial together, and score each real
  * cell by the artificial fraction of its k nearest neighbors.
  *
  * Spark decomposition (SURVEY §2.9): pair table → grouped sum (the
  * doublet synthesis is a join + agg on the long table), the existing
  * LogNormalize → HVG → Scale → PCA pipeline for the embedding, and
  * the bounded [[Snn.knnJoin]] for the kNN — every stage distributed,
  * seeded, and deterministic (pairing hashes each barcode with the
  * seed and pairs consecutive dense ranks; no driver materialization).
  *
  * Classification follows scDblFinder's trained-classifier design
  * (`2-2:34-36` semantics): the artificial doublets are a LABELED
  * positive class, so a boosted-trees model (the reference's xgboost
  * family) is fit on ALL cells (real + artificial) over per-cell
  * features mirroring scDblFinder's kNN-derived set: artificial-neighbor
  * fraction at two neighborhood scales, distance-weighted artificial
  * fraction, rank of the first artificial neighbor, mean neighbor
  * distance (local density), log library size, log feature count. Each
  * real cell's `doublet_scores` is the model's predicted doublet
  * probability; `doublet` when it passes `probabilityThreshold` — the
  * 0.5 default the reference configures
  * (`4_Prepare_experiment.r: config.doubletScores`).
  *
  * Two defenses scDblFinder itself uses against the trap of this
  * training scheme — every real doublet is LABELED real, so a flexible
  * model fit naively memorizes the very cells the score must flag:
  *  1. OUT-OF-FOLD round 1: real cells are split into 3 folds by
  *     `xxhash64(barcode, seed) pmod 3` (artificial cells train every
  *     model) and each fold is scored by the model that never saw it;
  *  2. ITERATIVE EXCLUSION round 2: real cells in the top decile of
  *     round-1 scores (an exact order statistic) are presumed doublets
  *     and left out of the real class, then every real cell is rescored.
  *     Without it, co-located real doublets vouch for each other across
  *     folds.
  *
  * The learner is [[BoostedTrees]], a local reproduction of Spark ML's
  * `GBTClassifier` for this configuration (20 iterations, depth 3, step
  * 0.1, 5 rows per node, 32 bins): on the same rows it gives the same
  * probabilities up to float noise (a spec pins ≤ 1e-3 and bit equality
  * on ≥ 90% of rows against Spark ML). The whole scheme — 4 fits and
  * all scoring — runs in ONE Spark task per sample over the persisted
  * feature table coalesced to one partition: one job, where the Spark
  * ML fits launched ~64 jobs each for a few hundred rows. The price is
  * memory: that task buffers the sample's real + artificial cells
  * (≈ 1.5 × cells × 7 doubles + barcode), O(cells per sample) in one
  * executor task, never on the driver.
  */
object Doublets {

  def scores(expr: DataFrame, k: Int = 20, numHvg: Int = 500,
             numPcs: Int = 10, seed: Long = 123L,
             probabilityThreshold: Double = 0.5): DataFrame = {
    val spark = expr.sparkSession
    import spark.implicits._
    // an RDD distinct keeps its shuffle inside the collect's one job
    // (a DataFrame distinct runs the shuffle as a job of its own)
    val samples = expr.select("sample").as[String].rdd.distinct()
      .collect().sorted
    if (samples.isEmpty)
      return Seq.empty[(String, String, Double, String)]
        .toDF("sample", "barcode", "doublet_scores", "doublet_class")
    // independent per-sample pipelines submitted concurrently (each is
    // seeded by sample name — order of completion cannot change scores)
    Concurrency.mapSamples(samples.toIndexedSeq)(s =>
        scoreSample(expr.filter(col("sample") === s), s, k, numHvg, numPcs,
          seed, probabilityThreshold))
      .reduce(_ unionByName _)
  }

  private def scoreSample(expr: DataFrame, sample: String, k: Int,
                          numHvg: Int, numPcs: Int, seed: Long,
                          probabilityThreshold: Double): DataFrame =
    featurize(expr, sample, k, numHvg, numPcs, seed) match {
      case None =>
        // a 1-cell sample cannot host a doublet: pass through as singlet
        // (no artificial class exists, so there is nothing to train on)
        expr.select("sample", "barcode").distinct()
          .withColumn("doublet_scores", lit(0.0))
          .withColumn("doublet_class", lit("singlet"))
      case Some(feats) =>
        classify(feats, sample, seed, probabilityThreshold)
    }

  /** The featurization stage, exposed package-private for spec-level
    * inspection: per-cell classifier features over real + artificial
    * cells, persisted and materialized (internal caches released).
    * None when the sample cannot host an artificial class. */
  private[ml] def featurize(expr: DataFrame, sample: String, k: Int,
                            numHvg: Int, numPcs: Int,
                            seed: Long): Option[DataFrame] = {
    val spark = expr.sparkSession
    import spark.implicits._

    val bc = expr.select("barcode").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nReal = bc.count()
    val nArt = nReal / 2
    if (nArt == 0) {
      bc.unpersist()
      return None
    }
    // deterministic DISTRIBUTED pairing: a seeded hash gives every
    // barcode a pseudo-random rank, a two-pass dense id turns the rank
    // into a permutation index, and consecutive indices pair up — no
    // O(cells) barcode list ever reaches the driver
    val keyed = bc.withColumn("__k",
      xxhash64(col("barcode"), lit(seed ^ sample.hashCode.toLong)))
    val pairs = graft.operators.DenseId
      .withDenseId(keyed, Seq(col("__k"), col("barcode")), "__idx")
      .filter(col("__idx") < lit(2L * nArt))
      .select(col("barcode"),
        format_string("__art_%06d", shiftright(col("__idx"), 1)).as("art_barcode"))

    val artExpr = expr.join(pairs, "barcode")
      .groupBy(col("sample"), col("art_barcode").as("barcode"), col("gene"))
      .agg(sum("count").as("count"))
      .select("sample", "barcode", "gene", "count")
    val combined = expr.select("sample", "barcode", "gene", "count")
      .unionByName(artExpr)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val nCells = nReal + nArt
    val norm = Normalize.logNormalize(combined)
    val hvg = Hvg.selectHvg(norm, nCells, numGenes = numHvg, valueCol = "norm")
    val ords = Hvg.ordinals(hvg)
    // the HVG-restricted normalized table feeds both the moments pass
    // and the scaling pass — cache it once instead of re-normalizing
    val normHvg = norm.join(ords, "gene")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val moments = Scale.geneMoments(normHvg, nCells)
    val scaled = Scale.scaleData(normHvg, moments)
    val ids = graft.operators.DenseId.withDenseId(
      combined.select("sample", "barcode").distinct(),
      Seq(col("sample"), col("barcode")), "cells_id")
    val zeroZ = Scale.zeroZ(moments).join(ords, "gene")
      .select("gene_ord", "z0").collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    val pcaIn = scaled.join(ids, Seq("sample", "barcode"))
      .select("cells_id", "gene_ord", "z")
    val (emb, _) = Pca.fit(pcaIn, zeroZ, k = numPcs,
      allCells = Some(ids.select("cells_id")))

    val tagged = emb.join(ids, "cells_id")
      .withColumn("is_art", col("barcode").startsWith("__art_"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded kNN over ALL cells (real + artificial are both featurized
    // — the artificial class is the training signal), radius + bucket
    // length derived from the data, skew-safe two-stage rank
    val ranked = Snn.knnJoin(
        tagged.select("cells_id", "pc"),
        tagged.select("cells_id", "pc"), k, seed)
      .join(tagged.select(col("cells_id").as("nid"),
        col("is_art").as("n_art")), "nid")
    // LEFT join from the full cell set: an isolated cell whose kth-NN
    // lies beyond the bounded radius has NO ranked rows — it must still
    // emerge, with artificial-neighbor fraction 0. All neighborhood
    // features come from the ONE ranked table — no extra shuffles.
    val kInner = math.max(1, k / 2)
    val artFrac = ranked
      .groupBy(col("cid").as("cells_id"))
      .agg(
        (count(when(col("n_art"), 1)).cast("double") / count(lit(1)))
          .as("art_frac"),
        (count(when(col("n_art") && col("rk") <= kInner, 1)).cast("double") /
          greatest(count(when(col("rk") <= kInner, 1)), lit(1L)).cast("double"))
          .as("art_frac_inner"),
        (sum(when(col("n_art"), lit(1.0) / (lit(1.0) + col("dist"))))
          .cast("double") /
          sum(lit(1.0) / (lit(1.0) + col("dist"))))
          .as("w_art_frac"),
        min(when(col("n_art"), col("rk"))).as("first_art_rk"),
        avg(col("dist")).as("mean_dist"))
    // sentinel for cells with NO neighbor inside the bounded radius:
    // the largest observed neighbor distance (the radius bound), NOT
    // 0.0 — zero reads as maximal local density, the opposite of the
    // truth for exactly the isolated cells this feature describes
    val distCap = ranked.agg(
      coalesce(max(col("dist")), lit(1.0)).as("__dist_cap"))
    // per-cell library features from the combined matrix
    val libs = combined
      .groupBy("sample", "barcode")
      .agg(sum("count").as("lib"), count(lit(1)).as("nfeat"))
      .join(ids, Seq("sample", "barcode"))
      .select(col("cells_id"), log1p(col("lib")).as("log_lib"),
        log1p(col("nfeat")).as("log_nfeat"))
    val feats = tagged
      .join(artFrac, Seq("cells_id"), "left")
      .withColumn("art_frac", coalesce(col("art_frac"), lit(0.0)))
      .withColumn("art_frac_inner", coalesce(col("art_frac_inner"), lit(0.0)))
      .withColumn("w_art_frac", coalesce(col("w_art_frac"), lit(0.0)))
      // no artificial neighbor within k (or no neighbors at all) →
      // sentinel rank one past the last slot, the bounded null-free form
      .withColumn("first_art_rk",
        coalesce(col("first_art_rk"), lit(k + 1)).cast("double"))
      .crossJoin(broadcast(distCap))
      .withColumn("mean_dist", coalesce(col("mean_dist"), col("__dist_cap")))
      .drop("__dist_cap")
      .join(libs, "cells_id")
      .withColumn("features",
        array(col("art_frac"), col("art_frac_inner"), col("w_art_frac"),
          col("first_art_rk"), col("mean_dist"),
          col("log_lib"), col("log_nfeat")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    feats.count()
    bc.unpersist(); combined.unpersist(); normHvg.unpersist()
    tagged.unpersist()
    Some(feats)
  }

  /** Train + score from a materialized feature table in ONE Spark job:
    * the table is coalesced to one partition and the whole two-round
    * scheme runs in that task over rows sorted by `cells_id`, so float
    * sums never depend on arrival order. Releases the feature table. */
  private[ml] def classify(feats: DataFrame, sample: String, seed: Long,
                           probabilityThreshold: Double): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    // RDD persist + count: ONE job. A persisted DataFrame would cost two
    // (adaptive execution materializes a cache as its own stage job)
    val scored = feats
      .select(col("cells_id"), col("barcode"), col("is_art"),
        when(col("is_art"), lit(-1)).otherwise(
          pmod(xxhash64(col("barcode"), lit(seed)), lit(NumFolds)).cast("int")),
        col("features"))
      .as[Cell].rdd.coalesce(1)
      .mapPartitions(it => twoRound(it.toArray.sortBy(_._1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count()
    feats.unpersist()
    scored.toDF("barcode", "doublet_scores")
      .select(lit(sample).as("sample"), col("barcode"), col("doublet_scores"),
        when(col("doublet_scores") >= probabilityThreshold, "doublet")
          .otherwise("singlet").as("doublet_class"))
  }

  /** (cells_id, barcode, is_art, fold, features); fold −1 = artificial. */
  private type Cell = (Long, String, Boolean, Int, Array[Double])
  private val NumFolds = 3

  /** The scDblFinder scheme over one sample's cells, sorted by
    * `cells_id`; yields (barcode, doublet probability) per real cell. */
  private def twoRound(cells: Array[Cell]): Iterator[(String, Double)] = {
    def fit(train: Array[Cell]) = BoostedTrees.fit(
      train.map(_._5), train.map(c => if (c._3) 1.0 else 0.0))
    val isReal = cells.map(!_._3)
    val folds = cells.filter(!_._3).map(_._4).distinct.sorted
    // round 1, out of fold: each real cell is scored by the model that
    // never saw its fold (artificial cells train every model). All real
    // cells in one fold would leave a single-class training set —
    // score in-sample instead.
    val models =
      if (folds.length < 2) folds.map(_ -> fit(cells)).toMap
      else folds.map(f => f -> fit(cells.filter(_._4 != f))).toMap
    val p1 = cells.map(c => if (c._3) Double.NaN else models(c._4).probability(c._5))
    // round 2: the top decile of round-1 scores is presumed doublets and
    // left out of the real class, then every real cell is rescored
    val real = p1.filter(!_.isNaN).sorted
    val nExcl = math.max(1, math.ceil(real.length * 0.1).toInt)
    val thr = real(real.length - nExcl)
    val keep = cells.indices.filter(i => !isReal(i) || p1(i) < thr).map(cells)
    // flat scores leave no real cell to train on: keep round 1
    val round2 = if (keep.exists(!_._3)) Some(fit(keep.toArray)) else None
    cells.indices.iterator.filter(isReal).map { i =>
      (cells(i)._2, round2.fold(p1(i))(_.probability(cells(i)._5)))
    }
  }
}
