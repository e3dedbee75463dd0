package graft.ml

import org.scalatest.funsuite.AnyFunSuite

class KdTreeSpec extends AnyFunSuite {
  import KdTreeSpec.scanNearest

  test("the k-d tree kNN equals a scan, ties included") {
    val rnd = new scala.util.Random(11L)
    // a 3-d integer grid with repeated points (many exact ties) and a
    // 10-d Gaussian cloud of 4 clusters
    val grid = Array.fill(400)(Array.fill(3)(rnd.nextInt(6).toDouble))
    val cloud = Array.tabulate(500)(i => Array.fill(10)(rnd.nextGaussian() + 6.0 * (i % 4)))
    for ((emb, k) <- Seq(grid -> 7, cloud -> 20, cloud.take(20) -> 20)) {
      val (nbr, dist) = KdTree.nearest(emb, k)
      val scan = scanNearest(emb, k)
      emb.indices.foreach { i =>
        assert(nbr(i).toSeq == scan(i).map(_._2), s"row $i")
        assert(dist(i).toSeq == scan(i).map(x => math.sqrt(x._1)), s"row $i")
      }
    }
  }
}

object KdTreeSpec {

  /** Ranks like [[KdTree]], by scanning every row: per row, the k other
    * rows with the smallest Σ(p−q)² summed in dimension order, ties to
    * the lower row; their squared sums and rows. */
  def scanNearest(emb: Array[Array[Double]], k: Int): Array[Seq[(Double, Int)]] =
    emb.indices.map { i =>
      emb.indices.filter(_ != i).map { j =>
        (emb(i).indices.foldLeft(0.0) { (s, c) =>
          val x = emb(i)(c) - emb(j)(c); s + x * x }, j)
      }.sorted.take(k)
    }.toArray
}
