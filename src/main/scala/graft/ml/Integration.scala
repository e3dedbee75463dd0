package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Anchor-based batch integration — the Seurat-v4 step
  * (`QC_helpers/dataIntegration.r:90-97`: split by group, find anchor
  * pairs in reduced space, integrate; the reference configures
  * `dimensionalityReduction method="rpca", numPCs=30` at
  * `4_Prepare_experiment.r:251-259`).
  *
  * v2 semantics (reciprocal-PCA anchor search with Seurat's
  * filter/score stages, re-derived for the embedding-level input):
  *  1. the first group (ascending order) is the reference;
  *  2. each group gets its own `dims`-dim eigenbasis (covariance of its
  *     rows in the joint PCA space, through [[Pca.principalAxes]]);
  *  3. anchors = MUTUAL nearest neighbors searched reciprocally: query
  *     vs reference with both sides projected onto the REFERENCE basis,
  *     and reference vs query on the QUERY basis (Seurat
  *     `FindIntegrationAnchors(reduction="rpca")`);
  *  4. anchors are kept only if the reference cell is within `kFilter`
  *     NN of the query cell in the joint space (Seurat `k.filter`);
  *  5. each anchor is scored by the shared-neighbor overlap of its two
  *     cells' `kScore`-neighborhoods in the reference-projected space,
  *     quantile-scaled to [0,1] with the 1%/90% nearest-rank quantiles
  *     (Seurat `k.score` + `ScoreAnchors`); a degenerate score
  *     distribution (all equal) carries no information and scores 1;
  *  6. every query cell is corrected by the weighted mean of its
  *     `kWeight` nearest anchor pairs' correction vectors, with
  *     Seurat's own FindWeights kernel (Stuart et al. 2019, Methods):
  *     distance weights `1 − d/d_k`, scaled by anchor score, through
  *     `1 − exp(−w/(2/sd²))`, normalized to sum 1; cells whose nearby
  *     anchors all score 0 pass through uncorrected — the behavior
  *     Seurat's rPCA is recommended for when a population exists in
  *     only one batch.
  * Groups with no anchors pass through uncorrected (matches the
  * reference's skip branch `dataIntegration.r:86-89` spirit).
  *
  * With `dims >= d` the projections are full-rank rotations, so the
  * anchor search degenerates to joint-space MNN (the v1 lineage,
  * Haghverdi et al. 2018) and only filtering/scoring remain active.
  *
  * The step is one driver kernel: both inputs are read in one narrow
  * pass, kept in storage while it is counted and then collected, and
  * every stage runs on local arrays. Each neighbour
  * search is a [[KdTree]] over rows in id order, so ties go to the
  * lower id, as in [[Snn.knnJoin]]. An input whose kernel would pass
  * `spark.driver.maxResultSize` is refused with
  * [[Snn.CorpusTooLargeException]] before the collect.
  */
object Integration {

  /** An upper bound on the driver bytes the kernel holds for `rows`
    * collected rows (cells and group labels together) of at most `dim`
    * coordinates: the collected rows (and their stored copy while they
    * are collected), each cell's point, projections, anchor pairs and
    * neighbourhoods, the one tree alive at a time, and the output rows
    * and their local frame. Heap deltas after GC peaked
    * in the shared-neighbour stage at ~780 B per row on the domain
    * soak's 10,000 cells of 30 dims, and at ~870 B on 40,000 Gaussian
    * cells of 50 dims projected to 30. */
  def bytes(rows: Long, dim: Int): Long = rows * (300L + 32L * dim)

  /** `pca`: `(cells_id, pc)`; `groups`: `(cells_id, group)`, each keyed
    * by `cells_id`. Returns `(cells_id, pc)` for the cells in both, the
    * non-reference groups corrected into the reference's space, as a
    * local frame. Defaults mirror Seurat's `FindIntegrationAnchors`
    * (k.anchor=5, k.filter=200, k.score=30) and the reference's
    * `numPCs=30` rPCA config. */
  def integrateEmbeddings(pca: DataFrame, groups: DataFrame,
                          kAnchor: Int = 5, kWeight: Int = 5, dims: Int = 30,
                          kScore: Int = 30, kFilter: Int = 200): DataFrame =
    integrateEmbeddings(pca, groups, kAnchor, kWeight, dims, kScore, kFilter,
      pca.sparkSession.sparkContext.getConf.getSizeAsBytes(Snn.CorpusLimitSetting, "1g"))

  private[ml] def integrateEmbeddings(pca: DataFrame, groups: DataFrame,
                                      kAnchor: Int, kWeight: Int, dims: Int,
                                      kScore: Int, kFilter: Int,
                                      limitBytes: Long): DataFrame = {
    val spark = pca.sparkSession
    import spark.implicits._
    // one narrow pass over both inputs, a pca row carrying its pc and a
    // groups row its group, kept for the count and the collect
    val both = pca.select(col("cells_id").cast("long"),
        lit(null).cast("string").as("group"), col("pc"))
      .unionByName(groups.select(col("cells_id").cast("long"), col("group"),
        lit(null).cast("array<double>").as("pc")))
      .as[(Long, String, Array[Double])].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (ids, pcs, group) = try {
      val (rows, dim) = both.aggregate((0L, 0))(
        (a, r) => (a._1 + 1, if (r._3 == null) a._2 else math.max(a._2, r._3.length)),
        (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
      val estimate = bytes(rows, dim)
      if (limitBytes > 0 && estimate > limitBytes)
        throw new Snn.CorpusTooLargeException(
          s"integration input too large: $rows rows of $dim dims need ~$estimate bytes " +
            s"on the driver, over ${Snn.CorpusLimitSetting} = $limitBytes bytes")
      cellsById(both.collect())
    } finally both.unpersist(false)
    val out = pcs.clone()
    if (group.exists(_ > 0)) {
      val ref = ids.indices.filter(group(_) == 0).toArray
      val basisR = basis(ref.map(pcs), dims)
      val refR = project(ref.map(pcs), basisR)
      (1 to group.max).foreach { g =>
        val qry = ids.indices.filter(group(_) == g).toArray
        correct(ids, pcs, ref, refR, basisR, qry, kAnchor, kWeight, dims, kScore, kFilter)
          .foreach { case (c, pc) => out(qry(c)) = pc }
      }
    }
    ids.indices.map(i => (ids(i), out(i))).toDF("cells_id", "pc")
  }

  /** The cells of the collected `(cells_id, group, pc)` rows (a null
    * `pc` marks a groups row): ids ascending, their points, and their
    * group's rank among the sorted group names. */
  private def cellsById(collected: Array[(Long, String, Array[Double])])
      : (Array[Long], Array[Array[Double]], Array[Int]) = {
    val groupOf = scala.collection.mutable.LongMap.from(
      collected.iterator.collect { case (id, g, null) => id -> g })
    val cells = collected.filter(r => r._3 != null && groupOf.contains(r._1)).sortBy(_._1)
    val rank = cells.map(r => groupOf(r._1)).distinct.sorted.zipWithIndex.toMap
    (cells.map(_._1), cells.map(_._3), cells.map(r => rank(groupOf(r._1))))
  }

  /** Top-`dims` eigenbasis (d×dims, column-major) of the rows'
    * covariance. None when there are fewer than 2 rows or truncation
    * would be a no-op. */
  private def basis(pts: Array[Array[Double]], dims: Int): Option[Array[Double]] = {
    val n = pts.length
    val d = pts.headOption.fold(0)(_.length)
    if (n < 2 || dims >= d) None
    else {
      val mean = Array.tabulate(d)(i => pts.iterator.map(_(i)).sum / n)
      val cov = new Array[Double](d * d)
      for (p <- pts; i <- 0 until d; j <- 0 to i)
        cov(i * d + j) += (p(i) - mean(i)) * (p(j) - mean(j))
      for (i <- 0 until d; j <- 0 to i) {
        cov(i * d + j) /= (n - 1); cov(j * d + i) = cov(i * d + j)
      }
      Some(Pca.principalAxes(new breeze.linalg.DenseMatrix(d, d, cov), dims)._1)
    }
  }

  /** The rows projected onto `basis`; the rows themselves when None. */
  private def project(pts: Array[Array[Double]], basis: Option[Array[Double]]): Array[Array[Double]] =
    basis.fold(pts) { b =>
      pts.map { p =>
        val d = p.length
        Array.tabulate(b.length / d) { j =>
          var s = 0.0; var i = 0
          while (i < d) { s += p(i) * b(j * d + i); i += 1 }
          s
        }
      }
    }

  /** Each row `i` of `pts` (ids ascending) with its `k` nearest other
    * rows of `corpus` (ids ascending) by row index, nearest first. */
  private def knn(pts: Array[Array[Double]], ptIds: Array[Long],
                  corpus: Array[Array[Double]], corpusIds: Array[Long],
                  k: Int): Array[Array[Int]] = {
    val tree = KdTree.build(corpus, corpusIds)
    pts.indices.map(i => tree.search(pts(i), k, ptIds(i))._1).toArray
  }

  /** Row `c`'s candidate anchors `(anchor row, dist)`: its `k` nearest
    * `anchors` (row indices of `pts`, ascending) other than itself, and
    * itself at distance 0 when it is an anchor (such a cell corrects by
    * its own vector too). Its k nearest anchors, itself included, are
    * the first k by (dist, id). */
  private[ml] def nearestAnchors(pts: Array[Array[Double]], ids: Array[Long],
                                 anchors: Array[Int], k: Int): Int => Seq[(Int, Double)] = {
    val tree = KdTree.build(anchors.map(pts), anchors.map(ids))
    c => {
      val (found, sums) = tree.search(pts(c), k, ids(c))
      found.indices.map(r => (anchors(found(r)), math.sqrt(sums(r)))) ++
        (if (java.util.Arrays.binarySearch(anchors, c) >= 0) Seq((c, 0.0)) else Nil)
    }
  }

  /** The corrected points `(query row, pc)` of query group `qry` (row
    * indices of `pcs`, ascending) against reference group `ref`, whose
    * points on its own basis `basisR` are `refR`. Cells left
    * uncorrected are not returned. */
  private def correct(ids: Array[Long], pcs: Array[Array[Double]],
                      ref: Array[Int], refR: Array[Array[Double]],
                      basisR: Option[Array[Double]], qry: Array[Int],
                      kAnchor: Int, kWeight: Int, dims: Int,
                      kScore: Int, kFilter: Int): Seq[(Int, Array[Double])] = {
    val (refPts, refIds) = (ref.map(pcs), ref.map(ids))
    val (qryPts, qryIds) = (qry.map(pcs), qry.map(ids))
    val qryR = project(qryPts, basisR)
    // reciprocal anchor search: q→r on the reference basis, r→q on the
    // query basis; mutual pairs `(query row, ref row)` are anchors
    val basisQ = basis(qryPts, dims)
    val r2q = knn(project(refPts, basisQ), refIds, project(qryPts, basisQ), qryIds, kAnchor)
    val q2r = knn(qryR, qryIds, refR, refIds, kAnchor)
    // k.filter: the pair must also be a joint-space kFilter-neighbor;
    // kFilter >= |ref| keeps every pair by definition, so skip the
    // search in that regime
    lazy val jointRef = KdTree.build(refPts, refIds)
    val filtered = q2r.indices.flatMap { q =>
      val mutual = q2r(q).filter(r => r2q(r).contains(q))
      val kept =
        if (mutual.isEmpty || kFilter <= 0 || kFilter >= ref.length) mutual
        else {
          val near = jointRef.search(qryPts(q), kFilter, qryIds(q))._1
          mutual.filter(near.contains)
        }
      kept.map(r => (q, r))
    }
    if (filtered.isEmpty) return Nil
    // k.score: shared-neighbor overlap of the two anchor cells'
    // neighborhoods in the reference-projected space (both groups, in id
    // order); kScore <= 0 disables scoring (every anchor weighs equally)
    val shared =
      if (kScore <= 0) filtered.map(_ => 0L)
      else {
        val all = (refIds.zip(refR) ++ qryIds.zip(qryR)).sortBy(_._1)
        val tree = KdTree.build(all.map(_._2), all.map(_._1))
        val hoods = scala.collection.mutable.LongMap.empty[Array[Int]]
        def hood(id: Long, p: Array[Double]) =
          hoods.getOrElseUpdate(id, tree.search(p, kScore, id)._1)
        filtered.map { case (q, r) =>
          hood(qryIds(q), qryR(q)).count(hood(refIds(r), refR(r)).contains).toLong
        }
      }
    // quantile-scale scores to [0,1] (Seurat: 1% and 90% quantiles,
    // nearest rank); a flat distribution is uninformative → everyone
    // scores 1
    val sorted = shared.sorted
    def quantile(p: Double) = sorted(math.max(0, math.ceil(p * sorted.length).toInt - 1)).toDouble
    val (lo, hi) = (quantile(0.01), quantile(0.90))
    val score = shared.map(s =>
      if (hi > lo) math.min(math.max((s - lo) / (hi - lo), 0.0), 1.0) else 1.0)
    // anchors scored 0 were judged spurious — discard them BEFORE the
    // weighting search; keeping them as weight-0 placeholders would both
    // occupy kWeight slots and zero out the correction for exactly the
    // cells that need a real (if distant) anchor
    val pairsOf = filtered.indices.filter(score(_) > 0).groupBy(filtered(_)._1)
    if (pairsOf.isEmpty) return Nil
    val near = nearestAnchors(qryPts, qryIds, pairsOf.keys.toArray.sorted, kWeight)
    // EXACT Seurat FindWeights kernel (Stuart et al. 2019 Cell, Methods
    // "Calculating anchor weights" — the IntegrateData weighting the
    // reference invokes, dataIntegration.r:95):
    //  1. each cell selects its kWeight nearest anchor PAIRS — the
    //     distance to a pair is the distance to its query-side cell, so
    //     an anchor cell in several pairs fills several slots, exactly
    //     the cells x anchors weight matrix. The kWeight nearest pairs
    //     are always among the pairs of the kWeight nearest distinct
    //     cells, so expanding the cell-NN result and re-ranking is exact.
    //  2. distance weight 1 - d/d_k against the kWeight-th selected
    //     pair's distance (the furthest selected anchor contributes
    //     ZERO), scaled by the anchor score;
    //  3. exponential kernel 1 - exp(-w / (2/sd^2)), sd.weight = 1;
    //  4. weights normalize to sum 1 per cell — the weighted mean below.
    // Degenerate guard Seurat never needs (k.weight=100 spans many
    // distinct anchor cells; a small kWeight over few anchors can select
    // pairs at ONE distance): equal distances carry no ordering
    // information and 1 - d/d_k would zero every weight, deleting the
    // correction for exactly those cells — fall back to the scores
    // alone there.
    val sdWeight = 1.0
    val byRank = Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Long)
    qry.indices.flatMap { c =>
      val sel = near(c).flatMap { case (a, d) => pairsOf(a).map(p => (d, p)) }
        .sortBy { case (d, p) => (d, qryIds(filtered(p)._1), refIds(filtered(p)._2)) }(byRank)
        .take(kWeight)
      val dk = sel.map(_._1).maxOption.getOrElse(0.0)
      val dmin = sel.map(_._1).minOption.getOrElse(0.0)
      val weighted = sel.map { case (d, p) =>
        val w = if (dk > dmin) (1.0 - d / dk) * score(p) else score(p)
        (1.0 - math.exp(-w / (2.0 / (sdWeight * sdWeight))), p)
      }.filter(_._1 > 0)
      // blend: the weighted mean of the selected pairs' vectors; cells
      // whose selected anchors all weigh 0 pass through
      if (weighted.isEmpty) None
      else {
        val pc = qryPts(c)
        val sw = weighted.map(_._1).sum
        Some(c -> Array.tabulate(pc.length) { i =>
          pc(i) + weighted.map { case (w, p) =>
            val (q, r) = filtered(p)
            w * (refPts(r)(i) - qryPts(q)(i))
          }.sum / sw
        })
      }
    }
  }
}
