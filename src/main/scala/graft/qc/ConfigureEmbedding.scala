package graft.qc

import graft.ml.{Clustering, Embed, Snn}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The configureEmbedding step (`QC_helpers/configureEmbedding.r:35-58`):
  * `FindNeighbors(k = 20)` over the first `numPCs = 30` components →
  * `FindClusters(louvain, resolution = 0.5)` → `RunUMAP`
  * (`configureEmbedding.r:73-114`; the 30-PC width comes from the
  * config at `4_Prepare_experiment.r:258`).
  */
object ConfigureEmbedding {

  final case class Result(
      clusters: DataFrame, // (cells_id, cluster)
      umap: DataFrame)     // (cells_id, x, y)

  /** Above this many cells the layout runs through
    * [[Embed.landmarkLayout]]: the exact kernel on this many landmarks,
    * distributed weighted-kNN placement for the rest. */
  private val ExactLayoutCells = 10000

  /** Clusters come from [[Clustering.louvain]] at every size; a graph
    * past its driver bound is refused with
    * [[Clustering.GraphTooLargeException]]. */
  def run(pca: DataFrame, numPCs: Int = 30, k: Int = 20,
          resolution: Double = 0.5, umapEpochs: Int = 200,
          method: String = "umap", seed: Long = 42L): Result = {
    val trimmed = pca.select(col("cells_id"),
      slice(col("pc"), 1, numPCs).as("pc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val knn = Snn.knn(trimmed, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // counted, then collected, by the clustering
    val edges = Snn.graph(knn, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clusters = Clustering.louvain(trimmed.select("cells_id"), edges, resolution)
    edges.unpersist()
    val nCells = trimmed.count()
    // subKnn is by-name: the tsne branch never evaluates it, so the
    // landmark path doesn't pay for an unused kNN
    def kernel(sub: DataFrame, subKnn: => DataFrame): DataFrame = method match {
      case "tsne" => Embed.tsneLike(sub, seed = seed)
      case _ => Embed.umapLike(sub, subKnn, epochs = umapEpochs, seed = seed)
    }
    val embedding =
      if (nCells > ExactLayoutCells)
        Embed.landmarkLayout(trimmed, m = ExactLayoutCells, seed = seed)(
          sub => kernel(sub, Snn.knn(sub, k)))
      else kernel(trimmed, knn)
    knn.unpersist(); trimmed.unpersist()
    Result(clusters, embedding)
  }
}
