package graft.ml

import org.apache.spark.sql.DataFrame

/** `FindClusters(louvain, resolution = 0.5)`
  * (`QC_helpers/configureEmbedding.r:114`) — community detection on the
  * SNN graph by the [[Louvain]] driver kernel, whatever the graph's
  * size. The edge list is post-reduction (≤ cells × k rows); only it
  * and the vertex ids are collected, matching the reference's igraph
  * locality. A graph whose kernel would pass `spark.driver.maxResultSize`
  * is refused by name before either collect.
  *
  * Cluster ids are renumbered 0..C−1 by ascending min member id
  * (deterministic-ordinal convention, SURVEY §2.10).
  */
object Clustering {

  /** The setting that bounds the graph [[louvain]] collects (0 = no
    * bound, as it means for Spark's own collects). */
  private val GraphLimitSetting = "spark.driver.maxResultSize"

  /** A [[louvain]] refused before collecting: the kernel over the graph
    * would not fit the bound the setting gives. */
  final class GraphTooLargeException(msg: String) extends IllegalStateException(msg)

  /** Throw [[GraphTooLargeException]] when the kernel over `cells`
    * vertices and `edges` edges ([[Louvain.bytes]]) would exceed
    * `limitBytes` (0 = no bound). */
  private[ml] def checkGraphBound(cells: Long, edges: Long, limitBytes: Long): Unit = {
    val estimate = Louvain.bytes(cells, edges)
    if (limitBytes > 0 && estimate > limitBytes)
      throw new GraphTooLargeException(
        s"SNN graph too large to cluster: $cells cells and $edges edges need ~$estimate bytes " +
          s"in the Louvain kernel, over $GraphLimitSetting = $limitBytes bytes")
  }

  /** `(cells_id, cluster)` from `vertices (cells_id)` and SNN `edges
    * (src, dst, weight)`, each pair listed once. A vertex with no edge
    * is its own cluster. Both frames are counted, then collected (each
    * is read twice, so callers pass persisted frames); the result is a
    * local frame. */
  def louvain(vertices: DataFrame, edges: DataFrame,
              resolution: Double = 1.0): DataFrame =
    louvain(vertices, edges, resolution,
      vertices.sparkSession.sparkContext.getConf.getSizeAsBytes(GraphLimitSetting, "1g"))

  private[ml] def louvain(vertices: DataFrame, edges: DataFrame, resolution: Double,
                          limitBytes: Long): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    checkGraphBound(vertices.count(), edges.count(), limitBytes)
    val ids = vertices.select("cells_id").collect().map(_.getLong(0)).sorted
    val idx = ids.zipWithIndex.toMap
    val es = edges.select("src", "dst", "weight").collect()
      .map(r => (idx(r.getLong(0)), idx(r.getLong(1)), r.getDouble(2)))
      .sortBy(e => (e._1, e._2))
    val comm = Louvain.communities(ids.length, es, resolution)
    ids.indices.map(i => (ids(i), comm(i).toLong)).toDF("cells_id", "cluster")
  }
}
