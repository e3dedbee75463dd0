package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Two tight 15-cell blobs in 5-D PC space, far apart. */
  private lazy val emb = {
    val blobA = (0 until 15).map(i =>
      (i.toLong, Array(0.0 + 0.1 * (i % 5), 0.1 * (i % 3), 0.0, 0.0, 0.0)))
    val blobB = (0 until 15).map(i =>
      (100L + i, Array(50.0 + 0.1 * (i % 5), 50.0 + 0.1 * (i % 3), 0.0, 0.0, 0.0)))
    (blobA ++ blobB).toDF("cells_id", "pc")
      .persist()
  }

  test("kNN neighbors stay within the blob") {
    val knn = Snn.knn(emb, k = 5)
    val cross = knn.filter(
      (col("cid") < 100 && col("nid") >= 100) ||
        (col("cid") >= 100 && col("nid") < 100)).count()
    assert(cross == 0)
    val perCell = knn.groupBy("cid").count().collect().map(_.getLong(1))
    assert(perCell.forall(_ == 5))
  }

  /** Brute force: per query row, the k corpus rows other than itself
    * with the smallest (Σ(p−q)², summed in dimension order; nid), as
    * `(cid, nid, sqrt(Σ), rk)`. */
  private def scan(query: DataFrame, corpus: DataFrame, k: Int): Set[(Long, Long, Double, Int)] = {
    def rows(df: DataFrame) = df.select("cells_id", "pc").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cs = rows(corpus)
    rows(query).flatMap { case (cid, p) =>
      cs.filter(_._1 != cid).map { case (nid, q) =>
        (p.indices.foldLeft(0.0) { (s, c) => val x = p(c) - q(c); s + x * x }, nid)
      }.sorted.take(k).zipWithIndex.map { case ((s, nid), r) => (cid, nid, math.sqrt(s), r + 1) }
    }.toSet
  }

  private def rows(knn: DataFrame): Set[(Long, Long, Double, Int)] =
    knn.select("cid", "nid", "dist", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  private def shortCells(knn: Set[(Long, Long, Double, Int)], ids: Seq[Long], k: Int): Int = {
    val got = knn.groupBy(_._1).view.mapValues(_.size).toMap
    ids.count(id => got.getOrElse(id, 0) < k)
  }

  test("exact kNN equals a brute-force scan on a 3000-point uniform cloud") {
    val rnd = new scala.util.Random(7)
    val cloud = (0 until 3000).map(i =>
      (i.toLong, Array.fill(5)(rnd.nextDouble() * 100))).toDF("cells_id", "pc").persist()
    val got = rows(Snn.knn(cloud, 10))
    assert(got == scan(cloud, cloud, 10))
    assert(got.size == 3000 * 10)
    cloud.unpersist()
  }

  test("coincident piles: exact kNN equals a scan, ties to the lower nid") {
    // 50 identical copies of each of 40 points: every cell's 10
    // neighbours are pile mates at distance 0, the lowest ids but its own
    val k = 10
    val piles = (0 until 40).flatMap { p =>
      (0 until 50).map { c =>
        ((p * 50 + c).toLong, Array(10.0 * p, 3.0 * (p % 7), 0.0, 0.0, 0.0))
      }
    }.toDF("cells_id", "pc").persist()
    val got = rows(Snn.knn(piles, k))
    assert(got == scan(piles, piles, k))
    got.groupBy(_._1).foreach { case (cid, nbrs) =>
      val pile = cid / 50 * 50
      assert(nbrs.toSeq.sortBy(_._4).map(_._2) ==
        (pile until pile + 50).filter(_ != cid).take(k), s"cell $cid")
      assert(nbrs.forall(_._3 == 0.0))
    }
    assert(got.map(_._1).size == 2000)
    piles.unpersist()
  }

  test("far outliers get their k exact neighbours: no cell comes back short") {
    // 300 Gaussian cells in 10-D and 30 scattered far from them and
    // from each other: the ε-grid join gave all 30 no neighbour at all
    val rnd = new scala.util.Random(3)
    val core = (0 until 300).map(i => (i.toLong, Array.fill(10)(rnd.nextGaussian())))
    val far = (300 until 330).map(i =>
      (i.toLong, Array.fill(10)((rnd.nextDouble() - 0.5) * 2000)))
    val emb = (core ++ far).toDF("cells_id", "pc").persist()
    val got = rows(Snn.knn(emb, 10))
    assert(got == scan(emb, emb, 10))
    assert(shortCells(got, 0L until 330L, 10) == 0)
    emb.unpersist()
  }

  test("query ≠ corpus: each query row gets the corpus's k nearest") {
    // the Integration / Embed shape: query cells searched against a
    // different corpus; a query id found in the corpus is excluded
    val rnd = new scala.util.Random(5)
    val corpus = (0 until 400).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian() + 5.0 * (i % 3)))).toDF("cells_id", "pc")
    val query = ((1000 until 1200).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian() * 4))) :+ (7L, Array(0.0, 0.0, 0.0, 0.0)))
      .toDF("cells_id", "pc")
    val got = rows(Snn.knnJoin(query, corpus, 8))
    assert(got == scan(query, corpus, 8))
    assert(got.size == 201 * 8 && !got.exists(r => r._1 == 7L && r._2 == 7L))
  }

  test("k >= |corpus| returns every other row; an empty corpus returns nothing") {
    val small = (0 until 6).map(i => (i.toLong, Array(i.toDouble, 1.0))).toDF("cells_id", "pc")
    val outside = Seq((100L, Array(2.4, 0.0))).toDF("cells_id", "pc")
    val got = rows(Snn.knnJoin(small.unionByName(outside), small, 10))
    assert(got == scan(small.unionByName(outside), small, 10))
    assert(got.count(_._1 == 100L) == 6 && (0L until 6L).forall(c => got.count(_._1 == c) == 5))
    assert(rows(Snn.knnJoin(small, small.limit(0), 10)).isEmpty)
    assert(rows(Snn.knnJoin(small, small, 0)).isEmpty)
  }

  test("dist is sqrt of graft_dist2 on every row, bit for bit") {
    val knn = Snn.knn(emb, 5)
    val pcs = emb.select(col("cells_id"), col("pc"))
    val checked = knn
      .join(pcs.select(col("cells_id").as("cid"), col("pc").as("a")), "cid")
      .join(pcs.select(col("cells_id").as("nid"), col("pc").as("b")), "nid")
      .select(col("dist"), sqrt(call_function("graft_dist2", col("a"), col("b"))).as("native"))
      .collect()
    assert(checked.length == 30 * 5)
    checked.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    // and the native form agrees with the interpreted composition
    val d2 = call_function("graft_dist2", col("a"), col("b"))
    val fb = aggregate(
      zip_with(col("a"), col("b"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
    val pairs = Seq(
      (Array(1.5, -2.0, 3e8), Array(1.5, -2.0, 3e8 + 1e-4)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 2.0)))
      .toDF("a", "b").select(d2.as("n"), fb.as("f")).collect()
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
  }

  test("a corpus past the driver bound is refused by name before its collect") {
    val e = intercept[Snn.CorpusTooLargeException](Snn.checkCorpusBound(1000, 20, 1000))
    assert(e.isInstanceOf[IllegalStateException])
    Seq("1000 rows", "20 dims", s"~${KdTree.bytes(1000, 20)} bytes", "spark.driver.maxResultSize")
      .foreach(x => assert(e.getMessage.contains(x), e.getMessage))
    Snn.checkCorpusBound(1000, 20, KdTree.bytes(1000, 20))
    Snn.checkCorpusBound(1000, 20, 0) // 0: no bound
    // through the join: the count runs, the collect never does
    val (refused, jobs) = jobsDuring(
      scala.util.Try(Snn.knnJoin(emb, emb, 5, limitBytes = 1000)))
    assert(refused.failed.get.isInstanceOf[Snn.CorpusTooLargeException])
    assert(jobs == 1)
  }

  test("knnJoin runs its count and collect jobs, then one job for the result") {
    val (knn, built) = jobsDuring(Snn.knnJoin(emb, emb, 5))
    assert(built == 2)
    val (n, consumed) = jobsDuring(knn.collect().length)
    assert(n == 30 * 5 && consumed == 1)
  }

  test("SNN graph + Louvain recovers the two blobs") {
    // k=10 of 14 possible in-blob neighbors: dense intra-blob SNN, so
    // the modularity optimum is the two planted communities
    val knn = Snn.knn(emb, k = 10)
    val edges = Snn.graph(knn, k = 10)
    assert(edges.filter(col("weight") > 1).count() == 0)
    val clusters = Clustering.louvain(emb.select("cells_id"), edges)
    val byCluster = clusters.collect()
      .groupBy(_.getAs[Long]("cluster"))
      .view.mapValues(_.map(_.getAs[Long]("cells_id")).toSet).toMap
    assert(byCluster.size == 2, s"expected 2 clusters, got ${byCluster.size}")
    assert(byCluster.values.toSet ==
      Set((0L until 15L).toSet, (100L until 115L).toSet))
    // deterministic renumbering: cluster 0 contains the smallest id
    assert(byCluster(0L).contains(0L))
  }

  test("Louvain at k = 5 never mixes blobs") {
    val knn = Snn.knn(emb, k = 5)
    val edges = Snn.graph(knn, k = 5)
    val clusters = Clustering.louvain(emb.select("cells_id"), edges)
    val byCluster = clusters.collect()
      .groupBy(_.getAs[Long]("cluster"))
      .view.mapValues(_.map(_.getAs[Long]("cells_id")).toSet).toMap
    byCluster.values.foreach { members =>
      assert(members.forall(_ < 100) || members.forall(_ >= 100),
        s"cluster mixes blobs: $members")
    }
    assert(byCluster.values.flatten.size == 30)
  }

  test("Louvain on a ring of cliques keeps each clique whole") {
    // ring of 4 cliques (6 nodes each) bridged by single weak edges —
    // the canonical modularity fixture
    val cliques = (0 until 4).flatMap { c =>
      val ids = (0 until 6).map(i => (c * 100 + i).toLong)
      ids.combinations(2).map { case Seq(a, b) => (a, b, 1.0) }
    }
    val bridges = (0 until 4).map(c =>
      ((c * 100 + 5).toLong, (((c + 1) % 4) * 100).toLong, 0.1))
    val edges = (cliques ++ bridges).toDF("src", "dst", "weight").persist()
    val verts = (0 until 4).flatMap(c => (0 until 6).map(i => (c * 100 + i).toLong))
      .toDF("cells_id").persist()

    def modularity(assign: Map[Long, Long]): Double = {
      val sym = (cliques ++ bridges).flatMap { case (a, b, w) =>
        Seq((a, b, w), (b, a, w)) }
      val m2 = sym.map(_._3).sum
      val deg = sym.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val intra = sym.filter { case (a, b, _) => assign(a) == assign(b) }
        .map(_._3).sum
      val sumTot = assign.values.toSet.toSeq.map { c: Long =>
        val d: Double = assign.collect { case (v, cc) if cc == c => deg(v) }.sum
        d * d
      }.sum
      intra / m2 - sumTot / (m2 * m2)
    }
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val perClique = (0 until 4).flatMap(c =>
      (0 until 6).map(i => (c * 100 + i).toLong -> c.toLong)).toMap
    val got = toMap(Clustering.louvain(verts, edges))
    assert(got.size == 24)
    // cliques end up whole: members of one clique share a cluster and
    // no cluster spans two cliques
    val byCluster = got.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    byCluster.values.foreach { members =>
      assert(members.map(_ / 100).size == 1, s"cluster spans cliques: $members")
    }
    assert(got.groupBy(_._1 / 100).values.forall(_.values.toSet.size == 1))
    assert(modularity(got) >= modularity(perClique) - 1e-9,
      s"louvain ${modularity(got)} < one per clique ${modularity(perClique)}")
    // deterministic
    assert(toMap(Clustering.louvain(verts, edges)) == got)
    edges.unpersist(); verts.unpersist()
  }

  test("a graph past the driver bound is refused by name before its collect") {
    val e = intercept[Clustering.GraphTooLargeException](
      Clustering.checkGraphBound(1000, 20000, 1000))
    assert(e.isInstanceOf[IllegalStateException])
    Seq("1000 cells", "20000 edges", s"~${Louvain.bytes(1000, 20000)} bytes",
      "spark.driver.maxResultSize").foreach(x => assert(e.getMessage.contains(x), e.getMessage))
    Clustering.checkGraphBound(1000, 20000, Louvain.bytes(1000, 20000))
    Clustering.checkGraphBound(1000, 20000, 0) // 0: no bound
    val verts = emb.select("cells_id")
    val edges = Snn.graph(Snn.knn(emb, k = 5), k = 5).persist()
    edges.count()
    // the two counts run (a shuffle-map job and a result job each), no
    // collect does
    val (refused, jobs) = jobsDuring(
      scala.util.Try(Clustering.louvain(verts, edges, 1.0, limitBytes = 1000)))
    assert(refused.failed.get.isInstanceOf[Clustering.GraphTooLargeException])
    assert(refused.failed.get.getMessage.contains("30 cells"))
    assert(jobs == 4)
    // within the bound: the two counts, then the two collects
    val (clusters, built) = jobsDuring(Clustering.louvain(verts, edges, 1.0, limitBytes = 0))
    assert(built == 6)
    val (n, consumed) = jobsDuring(clusters.collect().length)
    assert(n == 30 && consumed == 0)
    edges.unpersist()
  }

  test("Louvain on degenerate graphs: no vertex, no edge, one cell") {
    def clusters(ids: Seq[Long], es: Seq[(Long, Long, Double)]) =
      Clustering.louvain(ids.toDF("cells_id"), es.toDF("src", "dst", "weight"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(clusters(Nil, Nil).isEmpty)
    // every isolated cell is its own cluster, numbered by ascending id
    assert(clusters(Seq(42L, 7L, 19L, 3L), Nil) == Seq(3L -> 0L, 7L -> 1L, 19L -> 2L, 42L -> 3L))
    // one edge among isolated cells: its pair shares a cluster, the
    // numbering still follows each cluster's smallest id
    assert(clusters(Seq(42L, 7L, 19L, 3L), Seq((19L, 42L, 0.5))) ==
      Seq(3L -> 0L, 7L -> 1L, 19L -> 2L, 42L -> 2L))
    assert(clusters(Seq(5L), Nil) == Seq(5L -> 0L))
  }

  test("SNN clusters are bit-identical at 1 and 7 shuffle partitions") {
    val rnd = new scala.util.Random(11)
    val cloud = (0 until 600).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian() + 3.0 * (i % 6)))).toDF("cells_id", "pc")
      .persist()
    def at(n: Int) = {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toLong)
      try {
        val edges = Snn.graph(Snn.knn(cloud, 10), 10).persist()
        try Clustering.louvain(cloud.select("cells_id"), edges, 0.5).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally edges.unpersist()
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    val one = at(1)
    assert(one.size == 600 && one.values.toSet.size > 1)
    assert(at(7) == one)
    cloud.unpersist()
  }

  test("tsneLike keeps the blobs separated") {
    val out = Embed.tsneLike(emb, iterations = 150)
    val pts = out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pts.length == 30)
    val (pa, pb) = pts.partition(_._1 < 100)
    def c(ps: Array[(Long, Double, Double)]) =
      (ps.map(_._2).sum / ps.length, ps.map(_._3).sum / ps.length)
    val (ax, ay) = c(pa); val (bx, by) = c(pb)
    val inter = math.hypot(ax - bx, ay - by)
    val intra = math.max(
      pa.map(p => math.hypot(p._2 - ax, p._3 - ay)).max,
      pb.map(p => math.hypot(p._2 - bx, p._3 - by)).max)
    assert(inter > intra, s"inter=$inter intra=$intra")
  }

  test("umapLike keeps the blobs separated") {
    val knn = Snn.knn(emb, k = 5)
    val out = Embed.umapLike(emb, knn, epochs = 50)
    val pts = out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pts.length == 30)
    val (pa, pb) = pts.partition(_._1 < 100)
    def centroid(ps: Array[(Long, Double, Double)]) =
      (ps.map(_._2).sum / ps.length, ps.map(_._3).sum / ps.length)
    val (ax, ay) = centroid(pa); val (bx, by) = centroid(pb)
    val inter = math.hypot(ax - bx, ay - by)
    val intraA = pa.map(p => math.hypot(p._2 - ax, p._3 - ay)).max
    val intraB = pb.map(p => math.hypot(p._2 - bx, p._3 - by)).max
    assert(inter > 2 * math.max(intraA, intraB),
      s"inter=$inter intraA=$intraA intraB=$intraB")
  }

  test("landmark layout places every cell and keeps the blobs separated") {
    // two 120-cell blobs, landmark budget 40 — most cells are placed by
    // the distributed weighted-kNN interpolation, not the exact kernel
    val big = (0 until 120).map(i =>
      (i.toLong, Array(0.0 + 0.1 * (i % 12), 0.1 * (i % 7), 0.0, 0.0, 0.0))) ++
      (0 until 120).map(i =>
        (1000L + i, Array(50.0 + 0.1 * (i % 12), 50.0 + 0.1 * (i % 7), 0.0, 0.0, 0.0)))
    val df = big.toDF("cells_id", "pc").persist()
    // umap kernel: stable at a 40-point landmark budget (the driver
    // t-SNE's fixed eta=200 is tuned for the production m~2000 regime)
    val out = Embed.landmarkLayout(df, m = 40, kPlace = 5)(
      sub => Embed.umapLike(sub, Snn.knn(sub, 5), epochs = 50))
    val pts = out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pts.length == 240)
    assert(pts.map(_._1).distinct.length == 240)
    val (pa, pb) = pts.partition(_._1 < 1000)
    def c(ps: Array[(Long, Double, Double)]) =
      (ps.map(_._2).sum / ps.length, ps.map(_._3).sum / ps.length)
    val (ax, ay) = c(pa); val (bx, by) = c(pb)
    val inter = math.hypot(ax - bx, ay - by)
    val intra = math.max(
      pa.map(p => math.hypot(p._2 - ax, p._3 - ay)).max,
      pb.map(p => math.hypot(p._2 - bx, p._3 - by)).max)
    assert(inter > intra, s"inter=$inter intra=$intra")
    // deterministic: same seed, same layout
    val again = Embed.landmarkLayout(df, m = 40, kPlace = 5)(
      sub => Embed.umapLike(sub, Snn.knn(sub, 5), epochs = 50))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(again.sortBy(_._1).toSeq == pts.sortBy(_._1).toSeq)
    df.unpersist()
  }
}
