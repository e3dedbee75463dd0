package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The distributed reference for [[Doublets.featurize]]: the same
  * scDblFinder chain built from Spark stages — a seeded-hash pairing
  * turned into a permutation by a two-pass dense id, the artificial
  * doublets as a join + grouped sum, the LogNormalize → vst HVG →
  * Scale → PCA chain of [[ReductionsReference]], and [[Snn.knnJoin]] for the
  * neighbours. It launches ~78 Spark jobs per sample, where the local
  * kernel runs inside one task. */
object FeaturizeReference {

  /** The per-cell feature table `(cells_id, pc, sample, barcode,
    * is_art, …, log_lib, log_nfeat, features)`, persisted and
    * materialized. None when the sample cannot host an artificial
    * class. */
  def featurize(expr: DataFrame, sample: String, k: Int, numHvg: Int,
                numPcs: Int, seed: Long): Option[DataFrame] = {
    val bc = expr.select("barcode").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nReal = bc.count()
    val nArt = nReal / 2
    if (nArt == 0) {
      bc.unpersist()
      return None
    }
    // a seeded hash gives every barcode a pseudo-random rank, a
    // two-pass dense id turns the rank into a permutation index, and
    // consecutive indices pair up
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
      .persist(StorageLevel.MEMORY_AND_DISK)

    val nCells = nReal + nArt
    val norm = ReductionsReference.logNormalize(combined)
    val hvg = ReductionsReference.selectHvg(norm, nCells, numGenes = numHvg, valueCol = "norm")
    val ords = ReductionsReference.ordinals(hvg)
    val normHvg = norm.join(ords, "gene")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val moments = ReductionsReference.geneMoments(normHvg, nCells)
    val scaled = ReductionsReference.scaleData(normHvg, moments)
    val ids = graft.operators.DenseId.withDenseId(
      combined.select("sample", "barcode").distinct(),
      Seq(col("sample"), col("barcode")), "cells_id")
    val zeroZ = ReductionsReference.zeroZ(moments).join(ords, "gene")
      .select("gene_ord", "z0").collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    val pcaIn = scaled.join(ids, Seq("sample", "barcode"))
      .select("cells_id", "gene_ord", "z")
    val (emb, _) = ReductionsReference.fit(pcaIn, zeroZ, k = numPcs,
      allCells = Some(ids.select("cells_id")))

    val tagged = emb.join(ids, "cells_id")
      .withColumn("is_art", col("barcode").startsWith("__art_"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ranked = Snn.knnJoin(
        tagged.select("cells_id", "pc"),
        tagged.select("cells_id", "pc"), k)
      .join(tagged.select(col("cells_id").as("nid"),
        col("is_art").as("n_art")), "nid")
      .persist(StorageLevel.MEMORY_AND_DISK)
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
    val libs = combined
      .groupBy("sample", "barcode")
      .agg(sum("count").as("lib"), count(lit(1)).as("nfeat"))
      .join(ids, Seq("sample", "barcode"))
      .select(col("cells_id"), log1p(col("lib")).as("log_lib"),
        log1p(col("nfeat")).as("log_nfeat"))
    // every cell has min(k, cells − 1) > 0 neighbours
    val feats = tagged
      .join(artFrac, "cells_id")
      .withColumn("w_art_frac", coalesce(col("w_art_frac"), lit(0.0)))
      .withColumn("first_art_rk",
        coalesce(col("first_art_rk"), lit(k + 1)).cast("double"))
      .join(libs, "cells_id")
      .withColumn("features",
        array(col("art_frac"), col("art_frac_inner"), col("w_art_frac"),
          col("first_art_rk"), col("mean_dist"),
          col("log_lib"), col("log_nfeat")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    feats.count()
    bc.unpersist(); combined.unpersist(); normHvg.unpersist()
    tagged.unpersist(); ranked.unpersist()
    Some(feats)
  }
}
