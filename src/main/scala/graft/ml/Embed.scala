package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `RunUMAP` slot (`QC_helpers/configureEmbedding.r:73-99`,
  * `dataIntegration.r:112`) — 2-D layout of the PCA space.
  *
  * Driver-local kernel BY DESIGN (SURVEY §2.9): the input is the
  * post-reduction cells × numPCs table (≤ 50 doubles/cell — the same
  * data the reference hands to `uwot`), and SGD over kNN edges is
  * inherently sequential. Algorithm is the published UMAP optimization
  * (attract along kNN-graph edges with the fitted a·d^2b kernel, repel
  * seeded negative samples, linearly decaying step, gradient clipping);
  * initialization is the first two PCs (deterministic, replacing
  * spectral init). Parity is structural, not bitwise (SURVEY §7.4).
  */
object Embed {

  /** Returns `(cells_id, x, y)`. */
  def umapLike(emb: DataFrame, knnEdges: DataFrame, epochs: Int = 200,
               minDist: Double = 0.3, negSamples: Int = 5,
               seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // fitted curve params for min_dist ~= 0.3 (umap-learn's fit)
    val a = 1.577; val b = 0.8951

    val rows = emb.select("cells_id", "pc").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val ids = rows.map(_._1)
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val edges = knnEdges.select("cid", "nid").collect()
      .map(r => (idx(r.getLong(0)), idx(r.getLong(1))))
      .sortBy(identity)

    // init: first two PCs scaled to [-10, 10]
    val pos = Array.ofDim[Double](n, 2)
    for (d <- 0 until 2) {
      val vals = rows.map(r => if (r._2.length > d) r._2(d) else 0.0)
      val lo = vals.min; val hi = vals.max
      val span = if (hi > lo) hi - lo else 1.0
      for (i <- 0 until n) pos(i)(d) = (vals(i) - lo) / span * 20.0 - 10.0
    }

    val rng = new java.util.SplittableRandom(seed)
    def clip(g: Double): Double = math.max(-4.0, math.min(4.0, g))
    for (epoch <- 0 until epochs) {
      val alpha = 1.0 - epoch.toDouble / epochs
      edges.foreach { case (i, j) =>
        val dx = pos(i)(0) - pos(j)(0); val dy = pos(i)(1) - pos(j)(1)
        val d2 = dx * dx + dy * dy
        if (d2 > 0) {
          val gc = -2.0 * a * b * math.pow(d2, b - 1.0) / (1.0 + a * math.pow(d2, b))
          val gx = clip(gc * dx) * alpha; val gy = clip(gc * dy) * alpha
          pos(i)(0) += gx; pos(i)(1) += gy
          pos(j)(0) -= gx; pos(j)(1) -= gy
        }
        var s = 0
        while (s < negSamples) {
          val r = rng.nextInt(n)
          if (r != i) {
            val rx = pos(i)(0) - pos(r)(0); val ry = pos(i)(1) - pos(r)(1)
            val rd2 = rx * rx + ry * ry
            val gc = 2.0 * b / ((0.001 + rd2) * (1.0 + a * math.pow(rd2, b)))
            pos(i)(0) += clip(gc * rx) * alpha
            pos(i)(1) += clip(gc * ry) * alpha
          }
          s += 1
        }
      }
    }
    ids.indices.map(i => (ids(i), pos(i)(0), pos(i)(1)))
      .toDF("cells_id", "x", "y")
  }

  /** `RunTSNE` slot (`configureEmbedding.r:85-99`) — exact t-SNE
    * driver kernel (van der Maaten & Hinton 2008): per-point sigma by
    * binary search to the target perplexity, symmetrized affinities,
    * early exaggeration, momentum gradient descent. O(n²) per
    * iteration — the driver-kernel boundary the reference itself has
    * (`Rtsne` on the collected matrix). Auto-params follow
    * `4_Prepare_experiment.r:261-265`: perplexity = min(30, n/100),
    * learning rate = max(200, n/12). */
  def tsneLike(emb: DataFrame, perplexityOpt: Option[Double] = None,
               iterations: Int = 300, seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb.select("cells_id", "pc").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val n = rows.length
    val ids = rows.map(_._1)
    val perplexity = math.max(2.0,
      perplexityOpt.getOrElse(math.min(30.0, n / 100.0)))
    val eta = math.max(200.0, n / 12.0)

    // pairwise squared distances in PC space
    val d2 = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- i + 1 until n) {
      var s = 0.0
      val a = rows(i)._2; val b = rows(j)._2
      var d = 0; while (d < a.length) { val t = a(d) - b(d); s += t * t; d += 1 }
      d2(i)(j) = s; d2(j)(i) = s
    }
    // conditional affinities via per-point binary search on beta
    val p = Array.ofDim[Double](n, n)
    val logU = math.log(perplexity)
    for (i <- 0 until n) {
      var beta = 1.0; var betaMin = 0.0; var betaMax = Double.PositiveInfinity
      var iter = 0
      while (iter < 50) {
        var sum = 0.0; var sumDp = 0.0
        for (j <- 0 until n if j != i) {
          val e = math.exp(-beta * d2(i)(j)); sum += e; sumDp += e * d2(i)(j)
        }
        val h = if (sum > 0) math.log(sum) + beta * sumDp / sum else 0.0
        if (math.abs(h - logU) < 1e-5) iter = 50
        else {
          if (h > logU) { betaMin = beta
            beta = if (betaMax.isInfinite) beta * 2 else (beta + betaMax) / 2 }
          else { betaMax = beta; beta = (beta + betaMin) / 2 }
        }
        iter += 1
      }
      var sum = 0.0
      for (j <- 0 until n if j != i) { p(i)(j) = math.exp(-beta * d2(i)(j)); sum += p(i)(j) }
      if (sum > 0) for (j <- 0 until n) p(i)(j) /= sum
    }
    // symmetrize
    val pij = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 until n)
      pij(i)(j) = math.max((p(i)(j) + p(j)(i)) / (2.0 * n), 1e-12)

    // deterministic init from first two PCs (tiny scale, standard)
    val y = Array.ofDim[Double](n, 2)
    for (i <- 0 until n; d <- 0 until 2)
      y(i)(d) = (if (rows(i)._2.length > d) rows(i)._2(d) else 0.0) * 1e-4
    val vel = Array.ofDim[Double](n, 2)
    for (iter <- 0 until iterations) {
      val exag = if (iter < 100) 12.0 else 1.0
      val momentum = if (iter < 250) 0.5 else 0.8
      // q distribution
      val num = Array.ofDim[Double](n, n); var qsum = 0.0
      for (i <- 0 until n; j <- i + 1 until n) {
        val dx = y(i)(0) - y(j)(0); val dy = y(i)(1) - y(j)(1)
        val v = 1.0 / (1.0 + dx * dx + dy * dy)
        num(i)(j) = v; num(j)(i) = v; qsum += 2 * v
      }
      for (i <- 0 until n) {
        var gx = 0.0; var gy = 0.0
        for (j <- 0 until n if j != i) {
          val q = math.max(num(i)(j) / qsum, 1e-12)
          val mult = (exag * pij(i)(j) - q) * num(i)(j)
          gx += mult * (y(i)(0) - y(j)(0)); gy += mult * (y(i)(1) - y(j)(1))
        }
        vel(i)(0) = momentum * vel(i)(0) - eta * 4 * gx
        vel(i)(1) = momentum * vel(i)(1) - eta * 4 * gy
      }
      for (i <- 0 until n) { y(i)(0) += vel(i)(0); y(i)(1) += vel(i)(1) }
    }
    ids.indices.map(i => (ids(i), y(i)(0), y(i)(1))).toDF("cells_id", "x", "y")
  }

  /** Landmark interpolation — the scale path for either kernel above
    * (the exact O(n²) t-SNE and the driver-SGD UMAP both stop being
    * viable past ~10⁵ cells, the boundary SURVEY §2.9 sanctions for
    * driver kernels).
    *
    *  1. `m` landmark cells are chosen by a seeded value hash
    *     (deterministic, layout-independent, no driver pass);
    *  2. the exact kernel lays out ONLY the landmarks (m² bounded,
    *     m ≪ n);
    *  3. every remaining cell is placed at the distance-weighted mean
    *     of its `kPlace` nearest landmarks' 2-D positions — one exact
    *     [[Snn.knnJoin]] against the landmarks — the standard
    *     landmark/kernel out-of-sample extension for t-SNE-family
    *     embeddings.
    *
    * With n <= m the kernel runs on everything and this is exact. */
  def landmarkLayout(emb: DataFrame, m: Int = 2000, kPlace: Int = 10,
                     seed: Long = 42L)(
      kernel: DataFrame => DataFrame): DataFrame = {
    val marked = emb.withColumn("__h", xxhash64(col("pc"), lit(seed)))
    val landmarks = marked
      .orderBy(col("__h"), col("cells_id")).limit(m).drop("__h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val layout = kernel(landmarks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    layout.count()
    val rest = emb.join(landmarks.select("cells_id"), Seq("cells_id"), "left_anti")
    // every other cell has min(kPlace, m) landmarks: the kNN is exact
    val placed = Snn.knnJoin(rest, landmarks, kPlace)
      .join(layout.select(col("cells_id").as("nid"), col("x"), col("y")), "nid")
      .withColumn("w", lit(1.0) / (lit(1.0) + col("dist")))
      .groupBy("cid")
      .agg((sum(col("w") * col("x")) / sum("w")).as("x"),
        (sum(col("w") * col("y")) / sum("w")).as("y"))
      .select(col("cid").as("cells_id"), col("x"), col("y"))
    val out = layout.unionByName(placed).localCheckpoint(true)
    landmarks.unpersist(); layout.unpersist()
    out
  }
}
