package graft.qc

import graft.ml.{Hvg, Normalize, Pca, Scale}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dataIntegration step (`QC_helpers/dataIntegration.r:28-63`):
  * normalize → find variable features → scale → PCA.
  *
  * [[run]] is the reference's unisample path
  * (`dataIntegration.r:98-103`: `NormalizeData` → `FindVariableFeatures
  * (vst, 2000)` → `ScaleData` → `RunPCA(npcs = 50)`), applied to the
  * merged matrix for any number of samples — i.e. `numSamples > 1`
  * runs uncorrected, matching the reference when integration is
  * disabled. [[runIntegrated]] adds the Seurat-v4 anchor correction
  * (`dataIntegration.r:90-97`) of that PCA embedding, the driver
  * kernel [[graft.ml.Integration.integrateEmbeddings]].
  */
object DataIntegration {

  final case class Reductions(
      pca: DataFrame, // (cells_id, pc: array<double>)
      varianceExplained: Array[Double],
      hvg: DataFrame) // (gene, mean, variance, variance_standardized, hvg_rank)

  def run(expr: DataFrame, cells: DataFrame,
          numHvg: Int = 2000, numPcs: Int = 50): Reductions = {
    val keyed = expr.join(
      cells.select("sample", "barcode", "cells_id"),
      Seq("sample", "barcode"), "left_semi")
    val nCells = cells.count()
    val norm = Normalize.logNormalize(keyed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hvg = Hvg.selectHvg(norm, nCells, numHvg, valueCol = "norm")
    val ords = Hvg.ordinals(hvg)
    val normHvg = norm.join(broadcast(ords), "gene")
    val moments = Scale.geneMoments(normHvg, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scaled = Scale.scaleData(normHvg, moments)
    val zeroZ = Scale.zeroZ(moments).join(broadcast(ords), "gene")
      .select("gene_ord", "z0").collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    val pcaIn = scaled
      .join(cells.select("sample", "barcode", "cells_id"), Seq("sample", "barcode"))
      .select("cells_id", "gene_ord", "z")
    val (emb, varExp) = Pca.fit(pcaIn, zeroZ, numPcs,
      allCells = Some(cells.select("cells_id")))
    norm.unpersist(); moments.unpersist()
    Reductions(emb, varExp, hvg)
  }

  /** Multi-group path (`dataIntegration.r:90-97`): the uncorrected
    * reductions plus MNN-anchor correction of the non-reference
    * groups' embeddings ([[graft.ml.Integration]]). `splitCol` is the
    * batch column — the reference splits by `"type"`, not `"samples"`
    * (the documented quirk in SURVEY §2.9). Falls back to the
    * unisample path when only one group exists. */
  def runIntegrated(expr: DataFrame, cells: DataFrame,
                    numHvg: Int = 2000, numPcs: Int = 50,
                    splitCol: String = "sample"): Reductions = {
    val red = run(expr, cells, numHvg, numPcs)
    val groups = cells.select(col("cells_id"), col(splitCol).as("group"))
    red.copy(pca = graft.ml.Integration.integrateEmbeddings(red.pca, groups))
  }
}
