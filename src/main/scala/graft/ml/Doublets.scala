package graft.ml

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Doublet scoring — scDblFinder semantics (`2-2_Compute-metrics_
  * doublets.r:34-36`): simulate artificial doublets by summing random
  * cell pairs, embed real + artificial together, and score each real
  * cell with a classifier trained to tell the artificial class apart.
  *
  * The reference scores one sample at a time (`2-2:31-36`), and so does
  * this: [[scores]] groups the `(sample, barcode, gene, count)` rows by
  * sample in ONE Spark job, and each sample's whole chain runs inside
  * its one task ([[featurize]], then [[twoRound]]):
  *  1. pairing: every barcode gets the rank of Spark's
  *     `xxhash64(barcode, lit(seed ^ sample.hashCode))` (ties by
  *     barcode), and consecutive ranks pair up into `__art_%06d` cells
  *     (⌊real/2⌋ of them) whose counts are the pair's sums;
  *  2-3. LogNormalize, vst HVG selection of `numHvg` genes, ScaleData
  *     and PCA onto the top `numPcs` axes: the reduction kernel
  *     [[Pca.reduce]], the one [[graft.qc.DataIntegration.run]] runs on
  *     the merged experiment; only its embedding is used here;
  *  4. EXACT kNN over all cells ([[KdTree.nearest]]): the k other
  *     cells with the smallest elementwise Σ(p−q)², ties by `cells_id`
  *     — scDblFinder's own neighbourhoods;
  *  5. 7 features per cell, mirroring scDblFinder's kNN-derived set:
  *     artificial-neighbour fraction at k and at k/2, the
  *     distance-weighted artificial fraction, the rank of the first
  *     artificial neighbour (k + 1 when none), the mean neighbour
  *     distance, log library size and log feature count.
  * `cells_id` numbers real + artificial cells in binary UTF-8 barcode
  * order — Spark's string order — and every float sum runs in that
  * order, so a sample's scores do not depend on how its rows arrive.
  *
  * Classification follows scDblFinder's trained-classifier design: the
  * artificial doublets are a LABELED positive class, and a boosted-trees
  * model is fit on all cells. Each real cell's `doublet_scores` is its
  * predicted doublet probability; `doublet` when it reaches
  * `probabilityThreshold`, the 0.5 default the reference configures
  * (`4_Prepare_experiment.r: config.doubletScores`). Two defenses
  * scDblFinder itself uses against this scheme's trap — every real
  * doublet is LABELED real, so a flexible model fit naively memorizes
  * the very cells the score must flag:
  *  1. OUT-OF-FOLD round 1: real cells are split into 3 folds by Spark's
  *     `xxhash64(barcode, lit(seed)) pmod 3` (artificial cells train
  *     every model) and each fold is scored by the model that never saw
  *     it;
  *  2. ITERATIVE EXCLUSION round 2: real cells in the top decile of
  *     round-1 scores are presumed doublets and left out of the real
  *     class, then every real cell is rescored.
  * The learner is [[BoostedTrees]], a local reproduction of Spark ML's
  * `GBTClassifier` for this configuration (20 iterations, depth 3, step
  * 0.1, 5 rows per node, 32 bins).
  *
  * Cost: the task of a sample holds O(nnz + numHvg² + cells·(numPcs +
  * 7 + k)) values — its rows, the HVG covariance and the per-cell
  * embedding, features and neighbours; [[taskBytes]] bounds the bytes.
  * The sample's rows are gathered by [[Gather.byKey]], which counts that
  * bound against the heap Spark leaves to user code, shared by every
  * kernel task of the executor, and refuses the sample with
  * [[SampleTooLargeException]] before it could run the executor out of
  * memory. The kNN's k-d tree answers a query in far fewer than the
  * O(cells·numPcs) steps of a scan on clustered data, but its worst
  * case is that scan, O(cells²·numPcs) for the sample. A sample uses
  * one core. The distributed form of steps 1-5, ~78 Spark jobs per
  * sample, is kept in the test sources as `FeaturizeReference`.
  */
object Doublets {

  def scores(expr: DataFrame, k: Int = 20, numHvg: Int = 500,
             numPcs: Int = 10, seed: Long = 123L,
             probabilityThreshold: Double = 0.5): DataFrame = {
    val spark = expr.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val sizing = Sizing(k, numHvg, numPcs,
      sc.getConf.getDouble("spark.memory.fraction", 0.6))
    // RDD persist + count: ONE job, the grouping shuffle included (a
    // persisted DataFrame would cost more: adaptive execution runs each
    // shuffle and the cache as jobs of their own)
    val rows = expr
      .select(col("sample"), col("barcode"), col("gene"), col("count").cast("long"))
      .as[(String, String, String, Long)].rdd
    val scored = Gather.byKey(rows, new HashPartitioner(sc.defaultParallelism), sizing)(
      scoreSample(_, k, numHvg, numPcs, seed, probabilityThreshold))
      .persist(StorageLevel.MEMORY_AND_DISK)
    scored.count()
    scored.toDF("sample", "barcode", "doublet_scores", "doublet_class")
  }

  private def scoreSample(m: SampleMatrix, k: Int, numHvg: Int, numPcs: Int,
                          seed: Long, probabilityThreshold: Double
                         ): Iterator[(String, String, Double, String)] =
    featurize(m, k, numHvg, numPcs, seed) match {
      // a 1-cell sample cannot host a doublet: pass through as singlet
      // (no artificial class exists, so there is nothing to train on)
      case None => m.barcodes.iterator.map(b => (m.key, b, 0.0, "singlet"))
      case Some(cells) => twoRound(cells).map { case (b, p) =>
        (m.key, b, p, if (p >= probabilityThreshold) "doublet" else "singlet")
      }
    }

  // ---- the per-sample kernel -------------------------------------------

  /** The kernel's parameters and its memory estimate ([[taskBytes]])
    * for the gather. */
  private[ml] final case class Sizing(k: Int, numHvg: Int, numPcs: Int,
                                      memoryFraction: Double) extends Gather.Cost {
    def step: String = "doublet scoring"
    def rowBytes: Long = RowBytes
    def taskBytes(cells: Long, genes: Long, nnz: Long): Long =
      Doublets.taskBytes(cells, genes, nnz, numHvg, numPcs, k)
  }

  /** A sample's gathered rows. */
  private[ml] type SampleMatrix = Gather.Matrix

  /** Bytes the running kernel tasks of this JVM have counted. */
  private[ml] def heldBytes: AtomicLong = Gather.heldBytes

  /** Spark's `xxhash64(s, lit(v))`: `v` is hashed as a second column,
    * chained from the string's hash under Spark's seed 42. */
  private[ml] def xxhash64(s: String, v: Long): Long =
    XXH64.hashLong(v, XXH64.hashUTF8String(UTF8String.fromString(s), 42L))

  /** The sum of two cells' entries (genes ascending, one entry each). */
  private def pairSum(ga: Array[Int], ca: Array[Long], gb: Array[Int],
                      cb: Array[Long]): (Array[Int], Array[Long]) = {
    val genes = new Array[Int](ga.length + gb.length)
    val counts = new Array[Long](ga.length + gb.length)
    var (a, b, o) = (0, 0, -1)
    while (a < ga.length || b < gb.length) {
      val fromA = b == gb.length || (a < ga.length && ga(a) <= gb(b))
      val (g, c) = if (fromA) { a += 1; (ga(a - 1), ca(a - 1)) } else { b += 1; (gb(b - 1), cb(b - 1)) }
      if (o >= 0 && genes(o) == g) counts(o) += c
      else { o += 1; genes(o) = g; counts(o) = c }
    }
    (java.util.Arrays.copyOf(genes, o + 1), java.util.Arrays.copyOf(counts, o + 1))
  }

  /** The sample's real + artificial cells in `cells_id` order with
    * their 7 classifier features. None when the sample cannot host an
    * artificial class (one cell). Drains `m`. */
  private[ml] def featurize(m: SampleMatrix, k: Int, numHvg: Int, numPcs: Int,
                            seed: Long): Option[Array[Cell]] = {
    val (realBc, _, realGenes, realCounts) = m.drain()
    val nReal = realBc.length
    val nArt = nReal / 2
    if (nArt == 0) return None

    // pairing: hash rank, ties by barcode (cells are in barcode order)
    val key = realBc.map(xxhash64(_, seed ^ m.key.hashCode.toLong))
    val perm = (0 until nReal).sortBy(c => (key(c), c))
    val artCells = Array.tabulate(nArt) { j =>
      val (a, b) = (perm(2 * j), perm(2 * j + 1))
      pairSum(realGenes(a), realCounts(a), realGenes(b), realCounts(b))
    }
    val n = nReal + nArt
    val ids = Gather.ranks(realBc ++ Array.tabulate(nArt)(j =>
      String.format(java.util.Locale.ROOT, "__art_%06d", Int.box(j))))
    val barcode = new Array[String](n)
    val genes = new Array[Array[Int]](n)
    val counts = new Array[Array[Long]](n)
    for (c <- 0 until nReal) {
      barcode(ids(c)) = realBc(c); genes(ids(c)) = realGenes(c); counts(ids(c)) = realCounts(c)
    }
    for (j <- 0 until nArt) {
      val i = ids(nReal + j)
      barcode(i) = String.format(java.util.Locale.ROOT, "__art_%06d", Int.box(j))
      genes(i) = artCells(j)._1; counts(i) = artCells(j)._2
    }
    val lib = counts.map(_.sum)
    val norm = Pca.logNormalize(counts)

    val emb = Pca.reduce(genes, norm, numHvg, numPcs).embedding
    val (nbr, dist) = KdTree.nearest(emb, k)
    val isArt = barcode.map(_.startsWith("__art_"))
    val kInner = math.max(1, k / 2)
    Some(Array.tabulate(n) { i =>
      val r = nbr(i).length
      var arts = 0; var innerArts = 0; var firstArt = k + 1
      var w = 0.0; var wArt = 0.0; var sumDist = 0.0
      var rk = 1
      while (rk <= r) {
        val d = dist(i)(rk - 1)
        w += 1.0 / (1.0 + d); sumDist += d
        if (isArt(nbr(i)(rk - 1))) {
          arts += 1
          if (rk <= kInner) innerArts += 1
          if (firstArt > k) firstArt = rk
          wArt += 1.0 / (1.0 + d)
        }
        rk += 1
      }
      val features = Array(
        arts.toDouble / r,
        innerArts.toDouble / math.max(math.min(r, kInner), 1).toDouble,
        if (arts == 0) 0.0 else wArt / w,
        firstArt.toDouble,
        sumDist / r,
        math.log1p(lib(i).toDouble),
        math.log1p(genes(i).length.toDouble))
      val fold = if (isArt(i)) -1 else java.lang.Math.floorMod(xxhash64(barcode(i), seed), NumFolds)
      (i.toLong, barcode(i), isArt(i), fold, features)
    })
  }

  /** The refusal of a sample too large to score in one task. */
  type SampleTooLargeException = Gather.SampleTooLargeException

  /** The per-row term of [[taskBytes]]. */
  private val RowBytes = 72L

  /** An upper bound on the bytes one sample's task holds: 100 per
    * interned barcode or gene name; per row, 24 in the row buffer (16,
    * and the old half of a doubling copy), 12 sorted, at most 12 more
    * for the artificial cells' entries and 24 for the scaled HVG
    * entries; three d² matrices (the covariance and its
    * eigen-decomposition) for d = min(numHvg, genes) selected genes; and
    * per real or artificial cell 128 of array headers and tree nodes
    * plus its embedding, features and neighbours' rows and distances. */
  private[ml] def taskBytes(cells: Long, genes: Long, nnz: Long, numHvg: Int,
                            numPcs: Int, k: Int): Long = {
    val d = math.min(numHvg.toLong, genes)
    100 * (cells + genes) + RowBytes * nnz + 24 * d * d +
      (cells + cells / 2) * (128 + 8L * (numPcs + 7 + 2 * k))
  }

  /** Throw [[SampleTooLargeException]] when scoring `sample` (`cells`
    * cells, `nnz` rows), estimated at `estimate` bytes, would hold more
    * than `limitBytes`. */
  private[ml] def checkMemory(sample: String, cells: Long, nnz: Long, estimate: Long,
                              limitBytes: Long): Unit =
    Gather.checkMemory("doublet scoring", sample, cells, nnz, estimate, limitBytes)

  // ---- the classifier --------------------------------------------------

  /** (cells_id, barcode, is_art, fold, features); fold −1 = artificial. */
  private[ml] type Cell = (Long, String, Boolean, Int, Array[Double])
  private val NumFolds = 3

  /** The scDblFinder scheme over one sample's cells, sorted by
    * `cells_id`; yields (barcode, doublet probability) per real cell. */
  private[ml] def twoRound(cells: Array[Cell]): Iterator[(String, Double)] = {
    def fit(train: Array[Cell]) = BoostedTrees.fit(
      train.map(_._5), train.map(c => if (c._3) 1.0 else 0.0))
    val isReal = cells.map(!_._3)
    val folds = cells.filter(!_._3).map(_._4).distinct.sorted
    // round 1, out of fold: each real cell is scored by the model that
    // never saw its fold (artificial cells train every model). All real
    // cells in one fold would leave a single-class training set —
    // score in-sample instead.
    val models =
      if (folds.length < 2) folds.map(_ -> fit(cells)).toMap
      else folds.map(f => f -> fit(cells.filter(_._4 != f))).toMap
    val p1 = cells.map(c => if (c._3) Double.NaN else models(c._4).probability(c._5))
    // round 2: the top decile of round-1 scores is presumed doublets and
    // left out of the real class, then every real cell is rescored
    val real = p1.filter(!_.isNaN).sorted
    val nExcl = math.max(1, math.ceil(real.length * 0.1).toInt)
    val thr = real(real.length - nExcl)
    val keep = cells.indices.filter(i => !isReal(i) || p1(i) < thr).map(cells)
    // flat scores leave no real cell to train on: keep round 1
    val round2 = if (keep.exists(!_._3)) Some(fit(keep.toArray)) else None
    cells.indices.iterator.filter(isReal).map { i =>
      (cells(i)._2, round2.fold(p1(i))(_.probability(cells(i)._5)))
    }
  }
}
