package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `FindNeighbors(k = 20)` → shared-nearest-neighbor graph
  * (`QC_helpers/configureEmbedding.r:113`).
  *
  * Spark decomposition (SURVEY §2.9): an EXACT kNN — every query row
  * searches a [[KdTree]] built once over the corpus and broadcast —
  * then the SNN weight is pure relational algebra: self-join the kNN
  * table on the shared neighbor, count, Jaccard = shared/(2k − shared),
  * prune below 1/15 (Seurat default).
  */
object Snn {

  /** The setting that bounds the corpus a [[knnJoin]] collects (0 = no
    * bound, as it means for Spark's own collects). */
  private[ml] val CorpusLimitSetting = "spark.driver.maxResultSize"

  /** A [[knnJoin]] refused before collecting: the corpus's tree would
    * not fit the bound the setting gives. */
  final class CorpusTooLargeException(msg: String) extends IllegalStateException(msg)

  /** Throw [[CorpusTooLargeException]] when a tree over `rows` points
    * of `dim` coordinates ([[KdTree.bytes]]) would exceed `limitBytes`
    * (0 = no bound). */
  private[ml] def checkCorpusBound(rows: Long, dim: Int, limitBytes: Long): Unit = {
    val estimate = KdTree.bytes(rows, dim)
    if (limitBytes > 0 && estimate > limitBytes)
      throw new CorpusTooLargeException(
        s"kNN corpus too large: $rows rows of $dim dims build a tree of ~$estimate bytes, " +
          s"over $CorpusLimitSetting = $limitBytes bytes")
  }

  /** Exact kNN join: for each row of `query`, the k rows of `corpus`
    * (both `(cells_id, pc)`, one width) with the smallest Σ(p−q)²,
    * ties to the lower id, its own id excluded. Returns
    * `(cid, nid, dist = sqrt(Σ), rk)`: exactly min(k, |corpus| − self)
    * rows per query row, rk 1 nearest.
    *
    * The corpus is counted, then collected to the driver (two jobs);
    * its tree is broadcast and every query partition searches it, so
    * the result is one narrow pass over `query`, no shuffle. A corpus
    * whose tree would pass `spark.driver.maxResultSize` is refused with
    * [[CorpusTooLargeException]] before the collect. */
  def knnJoin(query: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    knnJoin(query, corpus, k,
      corpus.sparkSession.sparkContext.getConf.getSizeAsBytes(CorpusLimitSetting, "1g"))

  private[ml] def knnJoin(query: DataFrame, corpus: DataFrame, k: Int,
                          limitBytes: Long): DataFrame = {
    val spark = query.sparkSession
    import spark.implicits._
    def points(df: DataFrame) =
      df.select(col("cells_id").cast("long"), col("pc")).as[(Long, Array[Double])]
    val (rows, dim) = corpus.select(size(col("pc"))).rdd
      .aggregate((0L, 0))((a, r) => (a._1 + 1, math.max(a._2, r.getInt(0))),
        (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    checkCorpusBound(rows, dim, limitBytes)
    // sorted by id: a tie goes to the lower row, so to the lower nid
    val byId = points(corpus).collect().sortBy(_._1)
    val tree = spark.sparkContext.broadcast(KdTree.build(byId.map(_._2), byId.map(_._1)))
    points(query).mapPartitions { it =>
      val t = tree.value
      it.flatMap { case (cid, pc) =>
        val (found, sums) = t.search(pc, k, cid)
        Iterator.tabulate(found.length)(r => (cid, t.id(found(r)), math.sqrt(sums(r)), r + 1))
      }
    }.toDF("cid", "nid", "dist", "rk")
  }

  /** kNN edge table `(cid, nid, dist, rk)` from embeddings
    * `(cells_id, pc: array<double>)`. Each cell is its own 0-th
    * neighbor in Seurat; we exclude self and rank 1..k. `emb` is
    * scanned three times (count, collect, search), so callers pass a
    * persisted frame. */
  def knn(emb: DataFrame, k: Int = 20): DataFrame = knnJoin(emb, emb, k)

  /** SNN edges `(src, dst, weight)` with src < dst, Jaccard-weighted
    * over the k-neighborhoods (self counted as its own neighbor, as in
    * Seurat), pruned at `prune`. */
  def graph(knnEdges: DataFrame, k: Int, prune: Double = 1.0 / 15): DataFrame = {
    // neighborhood incl. self
    val nbr = knnEdges.select("cid", "nid")
      .unionByName(knnEdges.select(col("cid"), col("cid").as("nid")).distinct())
    val shared = nbr.as("a")
      .join(nbr.as("b"), col("a.nid") === col("b.nid") &&
        col("a.cid") < col("b.cid"))
      .groupBy(col("a.cid").as("src"), col("b.cid").as("dst"))
      .agg(count(lit(1)).as("shared"))
    shared
      .withColumn("weight",
        col("shared").cast("double") / (lit(2 * (k + 1)) - col("shared")))
      .filter(col("weight") >= prune)
      .select("src", "dst", "weight")
  }
}
