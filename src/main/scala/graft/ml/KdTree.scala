package graft.ml

/** Exact k-nearest-neighbour search over a fixed set of rows: one
  * build, many searches. It is the repo's one kNN: [[Doublets]] searches
  * a sample's embedding inside the sample's task, and [[Snn.knnJoin]]
  * broadcasts a tree built over the corpus and searches it from every
  * query partition.
  *
  * The k nearest rows to a point p are the k with the smallest
  * Σ(p−q)², summed in dimension order, ties to the lower row; their
  * distances are sqrt(Σ). The tree's leaves hold at most [[LeafRows]]
  * rows, and each inner node splits its rows at the median of its
  * box's widest dimension. A search visits the near side first and
  * skips a node only when the smallest sum any row in its box can
  * reach — taken term by term in the same order, so it never exceeds a
  * row's own sum in floating point — is above the current k-th, and a
  * row's sum stops once it passes the k-th. The answer is therefore a
  * scan's, bit for bit. A search costs far fewer than a scan's
  * O(rows·dim) steps on clustered rows, and the scan's cost at worst
  * (many dimensions, rows spread evenly). */
final class KdTree private (
    val dim: Int,
    ids: Array[Long],
    // tree position r holds row rows(r), its point at coords(r·dim + ·)
    rows: Array[Int],
    coords: Array[Double],
    // node t covers tree positions begin(t) until end(t), its box is
    // lo/hi(t·dim + ·), and its children are left/right(t) (−1: leaf)
    begin: Array[Int], end: Array[Int], left: Array[Int], right: Array[Int],
    lo: Array[Double], hi: Array[Double]) extends Serializable {

  def size: Int = rows.length

  /** The id of row `row`. */
  def id(row: Int): Long = ids(row)

  /** The (up to) `k` rows nearest `p` whose id is not `skip`, nearest
    * first, and their sums Σ(p−q)². `p` has [[dim]] coordinates. */
  def search(p: Array[Double], k: Int, skip: Long): (Array[Int], Array[Double]) = {
    val s = new Search(p, math.max(0, math.min(k, size)), skip)
    if (s.kk > 0) {
      require(p.length == dim, s"a ${p.length}-dim point searched in a $dim-dim tree")
      s.visit(0, 0.0)
    }
    s.result
  }

  private final class Search(p: Array[Double], val kk: Int, skip: Long) {
    private val found = new Array[Int](kk)
    private val sums = new Array[Double](kk)
    private var len = 0

    private def offer(r: Int): Unit = {
      val row = rows(r)
      // a partial sum never decreases, so once past a full list's k-th
      // the row cannot enter
      val cap = if (len < kk) Double.PositiveInfinity else sums(kk - 1)
      var s = 0.0; var c = 0; val at0 = r * dim
      while (c < dim && s <= cap) { val x = p(c) - coords(at0 + c); s += x * x; c += 1 }
      if (c == dim && (len < kk || s < sums(len - 1) || (s == sums(len - 1) && row < found(len - 1)))) {
        var at = math.min(len, kk - 1)
        while (at > 0 && (sums(at - 1) > s || (sums(at - 1) == s && found(at - 1) > row))) {
          sums(at) = sums(at - 1); found(at) = found(at - 1); at -= 1
        }
        sums(at) = s; found(at) = row
        if (len < kk) len += 1
      }
    }

    private def bound(t: Int): Double = {
      var s = 0.0; var c = 0
      while (c < dim) {
        val x = p(c); val l = lo(t * dim + c); val h = hi(t * dim + c)
        val gap = if (x < l) l - x else if (x > h) x - h else 0.0
        s += gap * gap; c += 1
      }
      s
    }

    def visit(t: Int, bt: Double): Unit =
      if (len < kk || bt <= sums(kk - 1)) {
        if (left(t) < 0) {
          var r = begin(t)
          while (r < end(t)) { if (ids(rows(r)) != skip) offer(r); r += 1 }
        } else {
          val bl = bound(left(t)); val br = bound(right(t))
          if (bl <= br) { visit(left(t), bl); visit(right(t), br) }
          else { visit(right(t), br); visit(left(t), bl) }
        }
      }

    def result: (Array[Int], Array[Double]) =
      if (len == kk) (found, sums)
      else (java.util.Arrays.copyOf(found, len), java.util.Arrays.copyOf(sums, len))
  }
}

object KdTree {

  /** Leaves hold at most this many rows. */
  private val LeafRows = 16

  /** The tree over `points` (one width), row i's id `ids(i)`. */
  def build(points: Array[Array[Double]], ids: Array[Long]): KdTree = {
    val n = points.length
    require(ids.length == n, s"${ids.length} ids for $n points")
    val dim = if (n == 0) 0 else points(0).length
    require(points.forall(_.length == dim), "points of more than one width")
    val rows = Array.range(0, n)
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val boxes = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Array[Double])]
    val children = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def split(a: Int, b: Int): Int = {
      val t = nodes.length
      val (mn, mx) = (Array.fill(dim)(Double.PositiveInfinity), Array.fill(dim)(Double.NegativeInfinity))
      for (r <- a until b; c <- 0 until dim) {
        val x = points(rows(r))(c)
        mn(c) = math.min(mn(c), x); mx(c) = math.max(mx(c), x)
      }
      nodes += ((a, b)); boxes += ((mn, mx)); children += ((-1, -1))
      val widest = (0 until dim).maxByOption(c => mx(c) - mn(c))
      if (b - a > LeafRows && widest.exists(c => mx(c) > mn(c))) {
        val c = widest.get
        val byCoord = rows.slice(a, b).sortBy(r => points(r)(c))(Ordering.Double.TotalOrdering)
        System.arraycopy(byCoord, 0, rows, a, b - a)
        val mid = (a + b) >>> 1
        val l = split(a, mid)
        children(t) = (l, split(mid, b))
      }
      t
    }
    // an empty tree is one empty leaf
    if (n > 0) split(0, n) else { nodes += ((0, 0)); children += ((-1, -1)) }
    val coords = new Array[Double](n * dim)
    for (r <- 0 until n) System.arraycopy(points(rows(r)), 0, coords, r * dim, dim)
    new KdTree(dim, ids, rows, coords, nodes.map(_._1).toArray, nodes.map(_._2).toArray,
      children.map(_._1).toArray, children.map(_._2).toArray,
      boxes.flatMap(_._1).toArray, boxes.flatMap(_._2).toArray)
  }

  /** Each row's (up to) k nearest other rows, nearest first, and their
    * distances sqrt(Σ(p−q)²). */
  def nearest(points: Array[Array[Double]], k: Int): (Array[Array[Int]], Array[Array[Double]]) = {
    val tree = build(points, Array.range(0, points.length).map(_.toLong))
    val found = points.indices.map(i => tree.search(points(i), k, i)).toArray
    (found.map(_._1), found.map(_._2.map(math.sqrt)))
  }

  /** An upper bound on the driver bytes a tree over `rows` points of
    * `dim` coordinates takes to build from collected `(id, point)`
    * rows: per row 56 + 8·dim collected, 16 + 8·dim in the tree, and
    * the boxes of at most one node per 4 rows (16 + 16·dim each). */
  def bytes(rows: Long, dim: Int): Long = rows * (80L + 20L * dim)
}
