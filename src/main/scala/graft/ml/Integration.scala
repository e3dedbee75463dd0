package graft.ml

import org.apache.spark.mllib.linalg.{DenseMatrix, Vectors}
import org.apache.spark.mllib.linalg.distributed.{IndexedRow, IndexedRowMatrix, RowMatrix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  *     rows in the joint PCA space — a d×d Gramian computed
  *     distributed, eigendecomposed on the driver);
  *  3. anchors = MUTUAL nearest neighbors searched reciprocally: query
  *     vs reference with both sides projected onto the REFERENCE basis,
  *     and reference vs query on the QUERY basis (Seurat
  *     `FindIntegrationAnchors(reduction="rpca")`);
  *  4. anchors are kept only if the reference cell is within `kFilter`
  *     NN of the query cell in the joint space (Seurat `k.filter`);
  *  5. each anchor is scored by the shared-neighbor overlap of its two
  *     cells' `kScore`-neighborhoods in the reference-projected space,
  *     quantile-scaled to [0,1] with the 1%/90% quantiles (Seurat
  *     `k.score` + `ScoreAnchors`); a degenerate score distribution
  *     (all equal) carries no information and scores 1;
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
  */
object Integration {

  /** Top-`dims` eigenbasis (d×dims, column-major) of the group's
    * covariance in the joint PCA space. Returns None when the group is
    * too small for a covariance or truncation would be a no-op. */
  private def eigenBasis(df: DataFrame, dims: Int): Option[DenseMatrix] = {
    val rows = df.select("pc").rdd
      .map(r => Vectors.dense(r.getSeq[Double](0).toArray))
    val first = rows.take(1)
    if (first.isEmpty) return None
    val d = first.head.size
    if (dims >= d || df.limit(2).count() < 2) return None
    val cov = new RowMatrix(rows).computeCovariance()
    val bm = new breeze.linalg.DenseMatrix(d, d, cov.toArray)
    val es = breeze.linalg.eigSym(bm)
    val top = (0 until d).sortBy(i => -es.eigenvalues(i)).take(dims)
    val data = new Array[Double](d * dims)
    for ((c, j) <- top.zipWithIndex; i <- 0 until d)
      data(j * d + i) = es.eigenvectors(i, c)
    Some(new DenseMatrix(d, dims, data))
  }

  /** `(cells_id, pc)` rows projected onto `basis` (distributed
    * row-matrix multiply, ids preserved). Identity when basis is None. */
  private def project(df: DataFrame, basis: Option[DenseMatrix]): DataFrame =
    basis match {
      case None => df
      case Some(b) =>
        val spark = df.sparkSession
        val rows = df.select("cells_id", "pc").rdd
          .map(r => IndexedRow(r.getLong(0),
            Vectors.dense(r.getSeq[Double](1).toArray)))
        import spark.implicits._
        new IndexedRowMatrix(rows).multiply(b)
          .rows.map(r => (r.index, r.vector.toArray))
          .toDF("cells_id", "pc")
    }

  /** Each `qry` cell's candidate anchors `(cells_id, aid, dist)`: its
    * `k` nearest anchor cells other than itself, and itself at distance
    * 0 when it is an anchor (such a cell corrects by its own vector
    * too). Its k nearest anchors, itself included, are the first k by
    * (dist, aid). */
  private[ml] def nearestAnchors(qry: DataFrame, anchorPts: DataFrame, k: Int): DataFrame =
    Snn.knnJoin(qry, anchorPts, k)
      .select(col("cid").as("cells_id"), col("nid").as("aid"), col("dist"))
      .unionByName(anchorPts.select(col("cells_id"), col("cells_id").as("aid"),
        lit(0.0).as("dist")))

  /** `pca`: `(cells_id, pc)`; `groups`: `(cells_id, group)`.
    * Returns `(cells_id, pc)` with non-reference groups corrected into
    * the reference's space. Defaults mirror Seurat's
    * `FindIntegrationAnchors` (k.anchor=5, k.filter=200, k.score=30)
    * and the reference's `numPCs=30` rPCA config.
    *
    * `maxAnchorCells` (round 12, the 4M-barcode soak's "sampled-anchor
    * variant"): 0 = exact Seurat semantics (every cell is an anchor
    * candidate — the default, and the gate behavior). With m > 0, the
    * ANCHOR PIPELINE (bases, reciprocal NN, k.filter, k.score) runs on
    * a deterministic value-hash sample of ~m cells per group, while
    * the CORRECTION still weights EVERY query cell against the found
    * anchors (that stage is O(n·kWeight) and scales) — Seurat's own
    * sketch-based/reference-sampling answer for atlas-scale
    * integration, and the same landmark idiom as
    * [[Embed.landmarkLayout]]. The anchor searches shrink from n to m
    * cells per group; fidelity costs only anchor-set coverage (the
    * IntegrationSpec mixing metric quantifies it).
    * Groups at or under m run the exact path bit-identically.
    *
    * Every neighbour search is [[Snn.knnJoin]], an exact kNN. */
  def integrateEmbeddings(pca: DataFrame, groups: DataFrame,
                          kAnchor: Int = 5, kWeight: Int = 5,
                          seed: Long = 42L, dims: Int = 30,
                          kScore: Int = 30, kFilter: Int = 200,
                          maxAnchorCells: Int = 0): DataFrame = {
    // Intermediates are EAGER localCheckpoints, deliberately NOT
    // persist(): the pipeline's reused frames form a chain six deep
    // (tagged → ref → refR → qryR → nbrs → anchors), and with cache
    // each level's cached plan scans the previous level's
    // InMemoryRelation. Under AQE that nests
    // TableCacheQueryStageExec materializations, a path the 1M-barcode
    // domain soak showed to be broken in Spark 4.1.2: a failure inside
    // the nested cache build enters CachedRDDBuilder.buildBuffers'
    // catch handler (InMemoryRelation.scala:330), whose
    // recacheByPlan → tryRebuildCacheEntry NPEs on
    // SparkPlan.session()==null and MASKS the original exception —
    // the same 1M leg with spark.sql.adaptive.enabled=false ran to
    // completion. (Round-6's eager count()s serialized FIRST builds
    // but could not stop later nested rebuilds.) localCheckpoint
    // materializes to plain RDD blocks on the driver thread: no
    // CacheManager entry, no nested cache stages, nothing for AQE to
    // rebuild — and the lineage cut also keeps per-level plans flat.
    // Block release is explicit (releaseCkpt) once the output is
    // materialized. Cluster note: checkpoint blocks are not
    // recomputable after executor loss (persist would recompute); the
    // frames are O(cells·dims) doubles, small enough to re-run the
    // operator on the rare loss, and the alternative is the broken
    // rebuild path above.
    def ckpt(df: DataFrame): DataFrame =
      df.localCheckpoint(true)
    def releaseCkpt(df: DataFrame): Unit =
      df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(false)
        case _ => ()
      }
    val released = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def tracked(df: DataFrame): DataFrame = {
      val c = ckpt(df); released += c; c
    }
    // project() returns its input unchanged when the basis is None
    // (dims >= d): re-checkpointing it would double block storage for
    // an identical frame, so only checkpoint genuinely new frames
    def trackedProj(df: DataFrame, basis: Option[DenseMatrix]): DataFrame =
      if (basis.isEmpty) df else tracked(project(df, basis))

    // try/finally: localCheckpoint blocks have no CacheManager entry, so
    // a mid-pipeline failure (approxQuantile, a knnJoin action) would
    // otherwise leak every intermediate's storage for the session's
    // lifetime with nothing to find them by. The output checkpoint is
    // EAGER, so on the success path it is fully materialized before the
    // finally releases the intermediates it was built from.
    try {
    val tagged = tracked(pca.join(groups, "cells_id"))
    val groupNames = tagged.select("group").distinct()
      .collect().map(_.getString(0)).sorted
    if (groupNames.length < 2) {
      return tagged.select("cells_id", "pc").localCheckpoint(true)
    }
    val ref = tracked(tagged.filter(col("group") === groupNames.head)
      .select("cells_id", "pc"))
    val refCount = ref.count()
    // sampled-anchor scale path: a deterministic value-hash THINNING
    // (no global order, no shuffle — the Embed.landmarkLayout idiom);
    // the sample size is ~m (binomial around the hash threshold).
    // Groups at/under m return the input frame itself, so the exact
    // path's frames — and outputs — are untouched.
    def anchorSample(df: DataFrame, cnt: Long): DataFrame =
      if (maxAnchorCells <= 0 || cnt <= maxAnchorCells) df
      else tracked(df.filter(
        pmod(xxhash64(lit(seed), col("cells_id")), lit(1000000L)) <
          lit(math.ceil(maxAnchorCells.toDouble / cnt * 1e6).toLong)))
    val refA = anchorSample(ref, refCount)
    val basisR = eigenBasis(refA, dims)
    val refR = trackedProj(refA, basisR)
    val refACount = if (refA eq ref) refCount else refA.count()

    val corrected = groupNames.tail.map { g =>
      val qry = tracked(tagged.filter(col("group") === g)
        .select("cells_id", "pc"))
      val qryA = anchorSample(qry,
        if (maxAnchorCells <= 0) 0L else qry.count())
      val basisQ = eigenBasis(qryA, dims)
      val qryR = trackedProj(qryA, basisR)
      // reciprocal anchor search: q→r on the reference basis, r→q on
      // the query basis; mutual pairs are anchors
      val q2r = Snn.knnJoin(qryR, refR, kAnchor)
        .select(col("cid").as("qid"), col("nid").as("rid"))
      val r2q = Snn.knnJoin(project(refA, basisQ), project(qryA, basisQ), kAnchor)
        .select(col("nid").as("qid"), col("cid").as("rid"))
      val mutual = q2r.intersect(r2q)
      // k.filter: the pair must also be a joint-space kFilter-neighbor;
      // kFilter >= |ref anchors| keeps every pair by definition, so
      // skip the search in that regime
      val filtered =
        if (kFilter <= 0 || kFilter >= refACount) mutual
        else mutual.join(
          Snn.knnJoin(qryA, refA, kFilter)
            .select(col("cid").as("qid"), col("nid").as("rid")),
          Seq("qid", "rid"), "left_semi")
      // k.score: shared-neighbor overlap of the two anchor cells'
      // neighborhoods in the reference-projected space (both groups);
      // kScore <= 0 disables scoring (every anchor weighs equally)
      val withShared =
        if (kScore <= 0) filtered.withColumn("shared", lit(0L))
        else {
          val allR = refR.unionByName(qryR)
          val nbrs = tracked(
            Snn.knnJoin(allR, allR, kScore).select("cid", "nid"))
          val overlap = filtered
            .join(nbrs.select(col("cid").as("qid"), col("nid").as("n")), "qid")
            .join(nbrs.select(col("cid").as("rid"), col("nid").as("n")),
              Seq("rid", "n"))
            .groupBy("qid", "rid")
            .agg(count(lit(1)).as("shared"))
          filtered.join(overlap, Seq("qid", "rid"), "left")
            .withColumn("shared", coalesce(col("shared"), lit(0L)))
        }
      val anchors = tracked(withShared
        .join(qry.select(col("cells_id").as("qid"), col("pc").as("qpc")), "qid")
        .join(ref.select(col("cells_id").as("rid"), col("pc").as("rpc")), "rid")
        .select(col("qid"), col("rid"), col("qpc"), col("shared"),
          zip_with(col("rpc"), col("qpc"), (r, q) => r - q).as("vec")))
      val nAnchors = anchors.count()
      if (nAnchors == 0) qry
      else {
        // quantile-scale scores to [0,1] (Seurat: 1% and 90% quantiles);
        // a flat distribution is uninformative → everyone scores 1
        val Array(lo, hi) = anchors.stat
          .approxQuantile("shared", Array(0.01, 0.90), 0.001)
        val scoreCol =
          if (hi > lo)
            least(greatest((col("shared") - lit(lo)) / lit(hi - lo),
              lit(0.0)), lit(1.0))
          else lit(1.0)
        // anchors scored 0 were judged spurious — discard them BEFORE
        // the weighting search; keeping them as weight-0 placeholders
        // would both occupy kWeight slots and zero out the correction
        // for exactly the cells that need a real (if distant) anchor
        val scored = anchors.withColumn("score", scoreCol)
          .filter(col("score") > 0)
        // each query cell's kWeight nearest anchor query-side points
        val anchorPts = scored
          .select(col("qid").as("cells_id"), col("qpc").as("pc"))
          .dropDuplicates("cells_id")
        val near = nearestAnchors(qry, anchorPts, kWeight)
        // EXACT Seurat FindWeights kernel (Stuart et al. 2019 Cell,
        // Methods "Calculating anchor weights" — the IntegrateData
        // weighting the reference invokes, dataIntegration.r:95):
        //  1. each cell selects its kWeight nearest anchor PAIRS — the
        //     distance to a pair is the distance to its query-side
        //     cell, so an anchor cell in several pairs fills several
        //     slots, exactly the cells x anchors weight matrix. The
        //     kWeight nearest pairs are always among the pairs of the
        //     kWeight nearest distinct cells, so expanding the cell-NN
        //     result and re-ranking is exact.
        //  2. distance weight 1 - d/d_k against the kWeight-th selected
        //     pair's distance (the furthest selected anchor contributes
        //     ZERO, unlike the previous score/(1+d) approximation which
        //     never vanished), scaled by the anchor score;
        //  3. exponential kernel 1 - exp(-w / (2/sd^2)), sd.weight = 1;
        //  4. weights normalize to sum 1 per cell — implicit in the
        //     weighted mean below.
        // Degenerate guard Seurat never needs (k.weight=100 spans many
        // distinct anchor cells; a small kWeight over few anchors can
        // select pairs at ONE distance): equal distances carry no
        // ordering information and 1 - d/d_k would zero every weight,
        // deleting the correction for exactly those cells — fall back
        // to the scores alone there.
        val pairRows = near
          .join(scored.select(col("qid").as("aid"), col("rid"),
            col("vec"), col("score")), "aid")
        val rkW = org.apache.spark.sql.expressions.Window
          .partitionBy("cells_id")
          .orderBy(col("dist"), col("aid"), col("rid"))
        val cellW = org.apache.spark.sql.expressions.Window
          .partitionBy("cells_id")
        val sdWeight = 1.0
        val weighted = pairRows
          .withColumn("rk", row_number().over(rkW))
          .filter(col("rk") <= kWeight)
          .withColumn("dk", max(col("dist")).over(cellW))
          .withColumn("dmin", min(col("dist")).over(cellW))
          .withColumn("w",
            lit(1.0) - exp(-(when(col("dk") > col("dmin"),
                (lit(1.0) - col("dist") / col("dk")) * col("score"))
              .otherwise(col("score"))) /
              lit(2.0 / (sdWeight * sdWeight))))
          .filter(col("w") > 0)
        // blend: posexplode vectors, grouped weighted mean per dim
        // (= Seurat's sum-to-1 normalized weights); cells whose
        // selected anchors all weigh 0 have no rows here and pass
        // through via the left join below
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
    // materialize the output checkpoint (eager); the finally then frees
    // every intermediate's blocks — out no longer references any of them
    (ref +: corrected).reduce(_ unionByName _).localCheckpoint(true)
    } finally {
      released.foreach(releaseCkpt)
    }
  }
}
