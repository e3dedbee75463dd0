package graft.ml

import scala.collection.mutable

/** Louvain modularity clustering (`FindClusters(resolution = 0.5)`,
  * `QC_helpers/configureEmbedding.r:114`) — driver kernel over the SNN
  * edge list (≤ cells × k edges, SURVEY §2.9's "driver
  * igraph-equivalent" decomposition; published Blondel et al. 2008).
  *
  * Deterministic by construction: nodes are visited in ascending id
  * order, modularity-gain ties break on the smallest community id, and
  * the recursion bottoms out when a full pass moves nothing.
  *
  * Bounded: a local-moving pass makes at most [[MaxSweeps]] sweeps over
  * the nodes, and every level that moves a node leaves fewer
  * communities than it had nodes, so there are at most n levels.
  */
object Louvain {

  /** The cap on one local-moving pass's sweeps over the nodes: a pass
    * that still moves a node on its last sweep stops there. */
  val MaxSweeps = 100

  /** An upper bound on the driver bytes [[Clustering.louvain]] holds to
    * run this kernel on `n` vertices and `e` edges. Per edge, the peak
    * is the collected row (~135 B) alive with its index tuple (~47 B),
    * above the tuple and its two neighbour entries (~79 B) of a pass;
    * per vertex, the sorted ids and the id → index map (~65 B), the
    * pass's per-node arrays and buffers, and the result row. */
  def bytes(n: Long, e: Long): Long = 256L * n + 200L * e

  /** `communities(n, edges)` → community id per node 0..n−1, renumbered
    * 0..C−1 by ascending smallest member. Edges are undirected, each
    * pair listed once. `resolution` scales the null-model term. */
  def communities(n: Int, edges: Array[(Int, Int, Double)],
                  resolution: Double = 1.0): Array[Int] = {
    if (n == 0) return Array.empty
    var mapping = Array.tabulate(n)(identity) // node -> current community chain
    var curEdges = edges
    var curN = n
    var improved = true
    while (improved) {
      val (assign, moved) = onePass(curN, curEdges, resolution)
      improved = moved
      if (improved) {
        // renumber communities densely
        val remap = mutable.HashMap.empty[Int, Int]
        val dense = assign.map(c => remap.getOrElseUpdate(c, remap.size))
        mapping = mapping.map(dense)
        // aggregate graph
        val agg = mutable.HashMap.empty[(Int, Int), Double]
        curEdges.foreach { case (u, v, w) =>
          val (a, b) = (dense(u), dense(v))
          val key = if (a <= b) (a, b) else (b, a)
          agg(key) = agg.getOrElse(key, 0.0) + w
        }
        curN = remap.size
        curEdges = agg.iterator.map { case ((a, b), w) => (a, b, w) }.toArray
        if (curN == 1) improved = false
      }
    }
    // renumber by ascending min member id
    val minMember = mutable.HashMap.empty[Int, Int]
    for (i <- 0 until n) {
      val c = mapping(i)
      if (!minMember.contains(c) || minMember(c) > i) minMember(c) = i
    }
    val order = minMember.toSeq.sortBy(_._2).map(_._1).zipWithIndex.toMap
    mapping.map(order)
  }

  /** One local-moving pass. Returns (assignment, anyNodeMoved). */
  private def onePass(n: Int, edges: Array[(Int, Int, Double)],
                      resolution: Double): (Array[Int], Boolean) = {
    val nbrs = Array.fill(n)(mutable.ArrayBuffer.empty[(Int, Double)])
    val k = new Array[Double](n)       // weighted degree
    val selfW = new Array[Double](n)   // self-loops from aggregation
    var m2 = 0.0                       // 2m
    edges.foreach { case (u, v, w) =>
      if (u == v) { selfW(u) += w; k(u) += 2 * w; m2 += 2 * w }
      else {
        nbrs(u) += ((v, w)); nbrs(v) += ((u, w))
        k(u) += w; k(v) += w; m2 += 2 * w
      }
    }
    if (m2 == 0) return (Array.tabulate(n)(identity), false)
    val comm = Array.tabulate(n)(identity)
    val sigmaTot = k.clone()
    var movedAny = false
    var movedThisSweep = true
    var sweeps = 0
    while (movedThisSweep && sweeps < MaxSweeps) {
      movedThisSweep = false
      var i = 0
      while (i < n) {
        val ci = comm(i)
        // weights to neighboring communities
        val wTo = mutable.HashMap.empty[Int, Double]
        nbrs(i).foreach { case (j, w) =>
          wTo(comm(j)) = wTo.getOrElse(comm(j), 0.0) + w
        }
        sigmaTot(ci) -= k(i)
        val base = wTo.getOrElse(ci, 0.0) - resolution * k(i) * sigmaTot(ci) / m2
        var bestC = ci; var bestGain = 0.0
        wTo.keysIterator.toArray.sorted.foreach { c =>
          if (c != ci) {
            val gain = wTo(c) - resolution * k(i) * sigmaTot(c) / m2 - base
            // candidates ascend, so a tie keeps the smaller id
            if (gain > bestGain + 1e-12) { bestGain = gain; bestC = c }
          }
        }
        sigmaTot(bestC) += k(i)
        if (bestC != ci) { comm(i) = bestC; movedAny = true; movedThisSweep = true }
        i += 1
      }
      sweeps += 1
    }
    (comm, movedAny)
  }
}
