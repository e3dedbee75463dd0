package graft.ml

/** A local gradient-boosted-trees binary classifier that reproduces
  * Spark ML's `GBTClassifier` (LogLoss, continuous features, no
  * subsampling) on one in-memory table, so a small fit runs inside one
  * task instead of as dozens of Spark jobs.
  *
  * Semantics followed, per `GradientBoostedTrees.boost` and
  * `RandomForest`:
  *  - labels 0/1 become ±1; tree 0 is fit on them (weight 1), tree m on
  *    the pseudo-residuals `4y/(1+exp(2yF))` (weight `StepSize`), with
  *    `F` updated as `F + w·tree(x)`;
  *  - variance regression trees of depth `MaxDepth`: a split leaving a
  *    child under `MinInstances` rows or gaining ≤ 0 is not taken, a
  *    child of impurity < machine epsilon is made a leaf, a leaf predicts
  *    the mean label of its calculator (the left prefix sum, or parent −
  *    left on the right, as Spark's bin aggregates compute them);
  *  - thresholds per feature from `findSplitsForContinuousFeature`: all
  *    midpoints between distinct values when there are at most
  *    `min(MaxBins, n) − 1` of them, else midpoints at equal-count
  *    strides;
  *  - `p = 1 − 1/(1+exp(2·margin))`, the margin a 4-way fused dot
  *    product as netlib's Java BLAS computes it.
  * Per-bin sums follow the order of the input rows, so the same rows in
  * the same order give bit-identical models. Spark samples at most
  * 10,000 rows to find thresholds; here all rows are used. */
private[ml] final class BoostedTrees(trees: Array[BoostedTrees.Node],
                                     weights: Array[Double]) {

  def margin(x: Array[Double]): Double = {
    val acc = new Array[Double](4)
    val bound = trees.length - trees.length % 4
    var i = 0
    while (i < bound) {
      for (j <- 0 until 4) acc(j) = Math.fma(trees(i + j)(x), weights(i + j), acc(j))
      i += 4
    }
    var sum = 0.0 + (acc(0) + acc(1) + acc(2) + acc(3))
    while (i < trees.length) { sum = Math.fma(trees(i)(x), weights(i), sum); i += 1 }
    sum
  }

  def probability(x: Array[Double]): Double = 1.0 - 1.0 / (1.0 + math.exp(2.0 * margin(x)))
}

private[ml] object BoostedTrees {

  sealed trait Node { def apply(x: Array[Double]): Double }
  final case class Leaf(value: Double) extends Node {
    def apply(x: Array[Double]): Double = value
  }
  final case class Split(feature: Int, threshold: Double, left: Node, right: Node) extends Node {
    def apply(x: Array[Double]): Double = if (x(feature) <= threshold) left(x) else right(x)
  }

  /** Label statistics of a set of rows: count, Σy, Σy². */
  private final class Stats(var w: Double = 0.0, var s: Double = 0.0, var ss: Double = 0.0) {
    def add(o: Stats): Stats = { w += o.w; s += o.s; ss += o.ss; this }
    def minus(o: Stats): Stats = new Stats(w - o.w, s - o.s, ss - o.ss)
    def copy: Stats = new Stats(w, s, ss)
    def impurity: Double = if (w == 0) 0.0 else (ss - s * s / w) / w
    def mean: Double = if (w == 0) 0.0 else s / w
  }

  private val Epsilon = math.ulp(1.0)
  // the doublet classifier's configuration (Spark ML names in brackets)
  private val MaxIter = 20      // maxIter
  private val MaxDepth = 3      // maxDepth
  private val StepSize = 0.1    // stepSize
  private val MinInstances = 5  // minInstancesPerNode
  private val MaxBins = 32      // maxBins

  def fit(x: Array[Array[Double]], label: Array[Double]): BoostedTrees = {
    val n = x.length
    val d = if (n == 0) 0 else x(0).length
    val thresholds = Array.tabulate(d)(f => splits(x.map(_(f)), math.min(MaxBins, n) - 1))
    val bins = x.map(r => Array.tabulate(d) { f =>
      val i = java.util.Arrays.binarySearch(thresholds(f), r(f)); if (i >= 0) i else -i - 1
    })
    val y = label.map(_ * 2 - 1)
    def tree(target: Array[Double]): Node = {
      def grow(rows: Array[Int], level: Int, own: Stats): Node = {
        var parent = own
        var best: (Double, Int, Int, Stats, Stats) = null
        for (f <- 0 until d if thresholds(f).nonEmpty) {
          val cum = Array.fill(thresholds(f).length + 1)(new Stats)
          rows.foreach { i => val b = cum(bins(i)(f)); b.w += 1.0; b.s += target(i); b.ss += target(i) * target(i) }
          for (k <- 1 until cum.length) cum(k).add(cum(k - 1))
          var fBest: (Double, Int, Int, Stats, Stats) = null
          for (k <- 0 until cum.length - 1) {
            val (l, r) = (cum(k).copy, cum.last.minus(cum(k)))
            if (parent == null) parent = l.copy.add(r)
            val gain =
              if (l.w < MinInstances || r.w < MinInstances) Double.MinValue
              else parent.impurity - l.w / parent.w * l.impurity - r.w / parent.w * r.impurity
            val g = if (gain < 0.0) Double.MinValue else gain
            if (fBest == null || g > fBest._1) fBest = (g, f, k, l, r)
          }
          if (best == null || fBest._1 > best._1) best = fBest
        }
        if (parent == null) {
          parent = new Stats
          rows.foreach { i => parent.w += 1.0; parent.s += target(i); parent.ss += target(i) * target(i) }
        }
        if (best == null || best._1 <= 0.0) Leaf(parent.mean)
        else {
          val (_, f, k, l, r) = best
          val (lRows, rRows) = rows.partition(i => bins(i)(f) <= k)
          def child(rs: Array[Int], st: Stats) =
            if (level + 1 == MaxDepth || math.abs(st.impurity) < Epsilon) Leaf(st.mean)
            else grow(rs, level + 1, st)
          Split(f, thresholds(f)(k), child(lRows, l), child(rRows, r))
        }
      }
      grow(Array.range(0, n), 0, null)
    }
    val trees = new Array[Node](MaxIter)
    val weights = Array.tabulate(MaxIter)(m => if (m == 0) 1.0 else StepSize)
    val pred = new Array[Double](n)
    for (m <- 0 until MaxIter) {
      val target = if (m == 0) y
                   else Array.tabulate(n)(i => 4.0 * y(i) / (1.0 + math.exp(2.0 * y(i) * pred(i))))
      trees(m) = tree(target)
      for (i <- 0 until n) pred(i) = pred(i) + trees(m)(x(i)) * weights(m)
    }
    new BoostedTrees(trees, weights)
  }

  /** Spark's `findSplitsForContinuousFeature` for unit-weight rows. */
  private def splits(values: Array[Double], numSplits: Int): Array[Double] = {
    val counts = values.groupMapReduce(v => if (v == 0.0) 0.0 else v)(_ => 1.0)(_ + _)
      .toArray.sortBy(_._1)
    if (counts.length <= 1) Array.emptyDoubleArray
    else if (counts.length - 1 <= numSplits)
      Array.tabulate(counts.length - 1)(i => (counts(i)._1 + counts(i + 1)._1) / 2.0)
    else {
      val stride = values.length.toDouble / (numSplits + 1)
      val out = Array.newBuilder[Double]
      var cur = counts(0)._2
      var target = stride
      for (i <- 1 until counts.length) {
        val prev = cur
        cur += counts(i)._2
        if (math.abs(prev - target) < math.abs(cur - target)) {
          out += (counts(i - 1)._1 + counts(i)._1) / 2.0
          target += stride
        }
      }
      out.result()
    }
  }
}
