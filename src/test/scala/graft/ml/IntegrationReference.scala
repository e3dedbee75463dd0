package graft.ml

import org.apache.spark.mllib.linalg.{DenseMatrix, Vectors}
import org.apache.spark.mllib.linalg.distributed.{IndexedRow, IndexedRowMatrix, RowMatrix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed reference for [[Integration.integrateEmbeddings]]:
  * every stage a DataFrame plan. MLlib's Gramian gives each group's
  * covariance and `IndexedRowMatrix.multiply` its projections, every
  * neighbour search is an [[Snn.knnJoin]], the mutual pairs an
  * `intersect`, the shared-neighbour counts two joins and a
  * `groupBy`, the score quantiles `approxQuantile`, the pair ranking
  * and the distance scale two windows, and the blend a grouped
  * weighted mean per dimension. What is left to differ from the kernel
  * is the covariance's and the sums' floating-point order (and an axis
  * sign, which no distance sees), and the quantiles: `approxQuantile`
  * at relative error 0.001 returns the kernel's nearest-rank value on
  * the specs' fixtures, but not on every input (on the domain soak's
  * 19,285 default-shape anchors it gave a 1% quantile of 10 where the
  * nearest rank is 11). */
object IntegrationReference {

  private def eigenBasis(df: DataFrame, dims: Int): Option[DenseMatrix] = {
    val rows = df.select("pc").rdd
      .map(r => Vectors.dense(r.getSeq[Double](0).toArray))
    val first = rows.take(1)
    if (first.isEmpty) return None
    val d = first.head.size
    if (dims >= d || df.limit(2).count() < 2) return None
    val cov = new RowMatrix(rows).computeCovariance()
    val es = breeze.linalg.eigSym(new breeze.linalg.DenseMatrix(d, d, cov.toArray))
    val top = (0 until d).sortBy(i => -es.eigenvalues(i)).take(dims)
    val data = new Array[Double](d * dims)
    for ((c, j) <- top.zipWithIndex; i <- 0 until d)
      data(j * d + i) = es.eigenvectors(i, c)
    Some(new DenseMatrix(d, dims, data))
  }

  private def project(df: DataFrame, basis: Option[DenseMatrix]): DataFrame =
    basis match {
      case None => df
      case Some(b) =>
        val spark = df.sparkSession
        import spark.implicits._
        new IndexedRowMatrix(df.select("cells_id", "pc").rdd
          .map(r => IndexedRow(r.getLong(0), Vectors.dense(r.getSeq[Double](1).toArray))))
          .multiply(b).rows.map(r => (r.index, r.vector.toArray))
          .toDF("cells_id", "pc")
    }

  def integrateEmbeddings(pca: DataFrame, groups: DataFrame,
                          kAnchor: Int = 5, kWeight: Int = 5, dims: Int = 30,
                          kScore: Int = 30, kFilter: Int = 200): DataFrame = {
    val tagged = pca.join(groups, "cells_id")
    val groupNames = tagged.select("group").distinct()
      .collect().map(_.getString(0)).sorted
    if (groupNames.length < 2) return tagged.select("cells_id", "pc")
    val ref = tagged.filter(col("group") === groupNames.head).select("cells_id", "pc")
    val refCount = ref.count()
    val basisR = eigenBasis(ref, dims)
    val refR = project(ref, basisR)

    val corrected = groupNames.tail.map { g =>
      val qry = tagged.filter(col("group") === g).select("cells_id", "pc")
      val basisQ = eigenBasis(qry, dims)
      val qryR = project(qry, basisR)
      val q2r = Snn.knnJoin(qryR, refR, kAnchor)
        .select(col("cid").as("qid"), col("nid").as("rid"))
      val r2q = Snn.knnJoin(project(ref, basisQ), project(qry, basisQ), kAnchor)
        .select(col("nid").as("qid"), col("cid").as("rid"))
      val mutual = q2r.intersect(r2q)
      val filtered =
        if (kFilter <= 0 || kFilter >= refCount) mutual
        else mutual.join(
          Snn.knnJoin(qry, ref, kFilter).select(col("cid").as("qid"), col("nid").as("rid")),
          Seq("qid", "rid"), "left_semi")
      val withShared =
        if (kScore <= 0) filtered.withColumn("shared", lit(0L))
        else {
          val allR = refR.unionByName(qryR)
          val nbrs = Snn.knnJoin(allR, allR, kScore).select("cid", "nid")
          val overlap = filtered
            .join(nbrs.select(col("cid").as("qid"), col("nid").as("n")), "qid")
            .join(nbrs.select(col("cid").as("rid"), col("nid").as("n")), Seq("rid", "n"))
            .groupBy("qid", "rid")
            .agg(count(lit(1)).as("shared"))
          filtered.join(overlap, Seq("qid", "rid"), "left")
            .withColumn("shared", coalesce(col("shared"), lit(0L)))
        }
      val anchors = withShared
        .join(qry.select(col("cells_id").as("qid"), col("pc").as("qpc")), "qid")
        .join(ref.select(col("cells_id").as("rid"), col("pc").as("rpc")), "rid")
        .select(col("qid"), col("rid"), col("qpc"), col("shared"),
          zip_with(col("rpc"), col("qpc"), (r, q) => r - q).as("vec"))
      if (anchors.count() == 0) qry
      else {
        val Array(lo, hi) = anchors.stat
          .approxQuantile("shared", Array(0.01, 0.90), 0.001)
        val scoreCol =
          if (hi > lo)
            least(greatest((col("shared") - lit(lo)) / lit(hi - lo), lit(0.0)), lit(1.0))
          else lit(1.0)
        val scored = anchors.withColumn("score", scoreCol).filter(col("score") > 0)
        val anchorPts = scored
          .select(col("qid").as("cells_id"), col("qpc").as("pc"))
          .dropDuplicates("cells_id")
        val near = nearestAnchors(qry, anchorPts, kWeight)
        val pairRows = near
          .join(scored.select(col("qid").as("aid"), col("rid"), col("vec"), col("score")), "aid")
        val rkW = Window.partitionBy("cells_id").orderBy(col("dist"), col("aid"), col("rid"))
        val cellW = Window.partitionBy("cells_id")
        val weighted = pairRows
          .withColumn("rk", row_number().over(rkW))
          .filter(col("rk") <= kWeight)
          .withColumn("dk", max(col("dist")).over(cellW))
          .withColumn("dmin", min(col("dist")).over(cellW))
          .withColumn("w",
            lit(1.0) - exp(-(when(col("dk") > col("dmin"),
                (lit(1.0) - col("dist") / col("dk")) * col("score"))
              .otherwise(col("score"))) / lit(2.0)))
          .filter(col("w") > 0)
        val blended = weighted
          .select(col("cells_id"), col("w"), posexplode(col("vec")).as(Seq("d", "v")))
          .groupBy("cells_id", "d")
          .agg((sum(col("w") * col("v")) / sum(col("w"))).as("corr"))
          .groupBy("cells_id")
          .agg(map_from_arrays(collect_list("d"), collect_list("corr")).as("corrmap"))
        qry.join(blended, Seq("cells_id"), "left")
          .select(col("cells_id"),
            when(col("corrmap").isNull, col("pc")).otherwise(
              zip_with(col("pc"),
                transform(sequence(lit(0), size(col("pc")) - 1),
                  i => element_at(col("corrmap"), i)),
                (p, c) => p + coalesce(c, lit(0.0)))).as("pc"))
      }
    }
    (ref +: corrected).reduce(_ unionByName _)
  }

  /** Each `qry` cell's candidate anchors `(cells_id, aid, dist)`: its
    * `k` nearest anchor cells other than itself, and itself at distance
    * 0 when it is an anchor. */
  private def nearestAnchors(qry: DataFrame, anchorPts: DataFrame, k: Int): DataFrame =
    Snn.knnJoin(qry, anchorPts, k)
      .select(col("cid").as("cells_id"), col("nid").as("aid"), col("dist"))
      .unionByName(anchorPts.select(col("cells_id"), col("cells_id").as("aid"),
        lit(0.0).as("dist")))
}
