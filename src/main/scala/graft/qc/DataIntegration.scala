package graft.qc

import graft.ml.{Gather, Pca}
import org.apache.spark.HashPartitioner
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

  /** The key of the one matrix [[run]] gathers: every sample's cells. */
  private val Merged = "merged"

  /** [[run]]'s task: the gather and [[Pca.reduce]] ([[Pca.taskBytes]]). */
  private final case class Sizing(numHvg: Int, numPcs: Int, memoryFraction: Double)
    extends Gather.Cost {
    def step: String = "dataIntegration"
    def rowBytes: Long = Pca.RowBytes
    def taskBytes(cells: Long, genes: Long, nnz: Long): Long =
      Pca.taskBytes(cells, genes, nnz, numHvg, numPcs)
  }

  /** LogNormalize → vst HVG → ScaleData → PCA over every cell of
    * `cells` (`(sample, barcode, cells_id)`) with its `expr` rows
    * (`(sample, barcode, gene, count)`), in ONE Spark task: the kernel
    * [[Pca.reduce]] that [[graft.ml.Doublets]] runs per sample. `cells`
    * is read once, joined to the rows; [[Gather.byKey]] gathers them
    * into one matrix (a cell named by its `cells_id`) and refuses an
    * experiment past the task's share of the heap with
    * [[Gather.SampleTooLargeException]] (at the default `numHvg`, past
    * about (share − 96 MB) / (60 B) nonzeros: [[Pca.taskBytes]]). The
    * result comes back in one collect. Every cell of `cells` gets one
    * `pc` row, a cell with no HVG entry the projection of the all-z0
    * row; the moments count `|cells|` cells. The outputs are local
    * frames, rows in `cells_id` order. */
  def run(expr: DataFrame, cells: DataFrame,
          numHvg: Int = 2000, numPcs: Int = 50): Reductions = {
    val spark = expr.sparkSession
    import spark.implicits._
    val sizing = Sizing(numHvg, numPcs,
      spark.sparkContext.getConf.getDouble("spark.memory.fraction", 0.6))
    // a cell without rows comes through the join as one gene-less row.
    // The hash table is built from the cells: a left join could only
    // broadcast the rows, and a generated frame's size estimate can be a
    // fraction of its size, so the planner would broadcast the matrix
    val rows = cells.select("sample", "barcode", "cells_id").hint("shuffle_hash")
      .join(expr.select("sample", "barcode", "gene", "count"), Seq("sample", "barcode"), "left")
      .select(col("cells_id").cast("string"), col("gene"),
        coalesce(col("count").cast("long"), lit(0L)))
      .as[(String, String, Long)].rdd
      .map { case (id, gene, count) => (Merged, id, gene, count) }
    val reduced = Gather.byKey(rows, new HashPartitioner(1), sizing)(
      m => Iterator(reduce(m, numHvg, numPcs))).collect()
    val (ids, hvg, varExp, emb) = reduced.headOption.getOrElse(
      (Array.empty[Long], Array.empty[(String, Double, Double, Double)],
        Array.empty[Double], Array.empty[Array[Double]]))
    Reductions(
      ids.indices.sortBy(ids(_)).map(i => (ids(i), emb(i))).toDF("cells_id", "pc"),
      varExp,
      hvg.toSeq.zipWithIndex.map { case ((g, m, v, sv), r) => (g, m, v, sv, r + 1) }
        .toDF("gene", "mean", "variance", "variance_standardized", "hvg_rank"))
  }

  /** The task of [[run]]: LogNormalize each cell, then the kernel.
    * Returns the cells' ids, the HVG rows `(gene, mean, variance,
    * variance_standardized)` in rank order, the variance explained and
    * the cells' embedding rows. */
  private def reduce(m: Gather.Matrix, numHvg: Int, numPcs: Int)
      : (Array[Long], Array[(String, Double, Double, Double)], Array[Double],
        Array[Array[Double]]) = {
    val (ids, geneNames, genes, counts) = m.drain()
    val r = Pca.reduce(genes, Pca.logNormalize(counts), numHvg, numPcs)
    (ids.map(_.toLong),
      r.hvg.map(h => (geneNames(h.gene), h.mean, h.variance, h.varianceStandardized)),
      r.varianceExplained, r.embedding)
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
