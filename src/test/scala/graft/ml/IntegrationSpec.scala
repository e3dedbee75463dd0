package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IntegrationSpec extends SparkSpec {
  import spark.implicits._

  /** Two batches of the same two populations, batch 2 shifted by a
    * constant vector in PC space — the canonical batch-effect shape. */
  private lazy val (pca, groups) = {
    def pop(base: Array[Double], ids: Range, shift: Array[Double]) =
      ids.map { i =>
        val jitter = Array(0.05 * (i % 5), 0.07 * (i % 3), 0.03 * (i % 2))
        (i.toLong, base.indices.map(d => base(d) + shift(d) + jitter(d)).toArray)
      }
    val batchShift = Array(8.0, -6.0, 4.0)
    val zero = Array(0.0, 0.0, 0.0)
    val p1 = Array(0.0, 0.0, 0.0); val p2 = Array(20.0, 20.0, 0.0)
    val b1 = pop(p1, 0 until 20, zero) ++ pop(p2, 20 until 40, zero)
    val b2 = pop(p1, 100 until 120, batchShift) ++ pop(p2, 120 until 140, batchShift)
    val pcaDf = (b1 ++ b2).toDF("cells_id", "pc")
    val grpDf = (b1 ++ b2).map(r => (r._1, if (r._1 < 100) "batch1" else "batch2"))
      .toDF("cells_id", "group")
    (pcaDf.persist(), grpDf)
  }

  private def dist(a: Seq[Double], b: Seq[Double]) =
    math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)

  test("MNN anchor correction removes the batch shift") {
    val out = Integration.integrateEmbeddings(pca, groups, kAnchor = 8, kWeight = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.size == 80)
    def centroid(ids: Range) = {
      val vs = ids.map(out(_))
      vs.head.indices.map(d => vs.map(_(d)).sum / vs.size)
    }
    val p1b1 = centroid(0 until 20); val p1b2 = centroid(100 until 120)
    val p2b1 = centroid(20 until 40); val p2b2 = centroid(120 until 140)
    // corrected same-population centroids are close across batches...
    assert(dist(p1b1, p1b2) < 2.0, s"P1 cross-batch ${dist(p1b1, p1b2)}")
    assert(dist(p2b1, p2b2) < 2.0, s"P2 cross-batch ${dist(p2b1, p2b2)}")
    // ...and populations remain separated
    assert(dist(p1b1, p2b1) > 10.0)
    // reference batch untouched
    val orig = pca.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    (0 until 40).foreach(i => assert(out(i.toLong) == orig(i.toLong)))
    // before correction the shift dominated
    val rawP1b2 = (100 until 120).map(orig(_))
    val rawCentroid = rawP1b2.head.indices.map(d => rawP1b2.map(_(d)).sum / rawP1b2.size)
    assert(dist(p1b1, rawCentroid) > 5.0)
  }

  /** b1 holds P1 and P2; b2 holds P1 (batch-shifted) and P3 — a
    * population unique to b2 whose nearest reference population is P2.
    * Joint-space MNN (full-rank dims + uninformative scores) anchors
    * P3 onto P2 and collapses it; the rPCA search with shared-neighbor
    * scoring gives those false anchors score 0 and leaves P3 alone. */
  private lazy val (mixPca, mixGroups) = {
    def pop(base: Array[Double], ids: Range, shift: Array[Double]) =
      ids.map { i =>
        val jitter = Array(0.05 * (i % 5), 0.07 * (i % 3), 0.03 * (i % 2))
        (i.toLong, base.indices.map(d => base(d) + shift(d) + jitter(d)).toArray)
      }
    val shift = Array(0.0, 6.0, 0.0); val zero = Array(0.0, 0.0, 0.0)
    val p1 = Array(0.0, 0.0, 0.0)
    val p2 = Array(20.0, 0.0, 0.0)
    val p3 = Array(36.0, 0.0, 0.0)
    val b1 = pop(p1, 0 until 30, zero) ++ pop(p2, 30 until 60, zero)
    val b2 = pop(p1, 100 until 130, shift) ++ pop(p3, 130 until 160, shift)
    val pcaDf = (b1 ++ b2).toDF("cells_id", "pc")
    val grpDf = (b1 ++ b2).map(r => (r._1, if (r._1 < 100) "batch1" else "batch2"))
      .toDF("cells_id", "group")
    (pcaDf.persist(), grpDf)
  }

  test("joint-space MNN collapses a batch-unique population (the v1 failure)") {
    val out = Integration.integrateEmbeddings(mixPca, mixGroups,
      kAnchor = 5, kWeight = 5, dims = 3, kScore = 0) // full rank, unscored → plain MNN
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def centroid(ids: Range) = {
      val vs = ids.map(out(_)); vs.head.indices.map(d => vs.map(_(d)).sum / vs.size)
    }
    // P3 (unique to b2) gets dragged onto P2 — the known MNN failure mode
    assert(dist(centroid(130 until 160), centroid(30 until 60)) < 3.0)
  }

  test("rPCA anchors + shared-neighbor scoring preserve the unique population") {
    val out = Integration.integrateEmbeddings(mixPca, mixGroups,
      kAnchor = 5, kWeight = 5, dims = 1, kScore = 20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.size == 120)
    def centroid(ids: Range) = {
      val vs = ids.map(out(_)); vs.head.indices.map(d => vs.map(_(d)).sum / vs.size)
    }
    // true pairs still corrected: P1 centroids converge across batches
    assert(dist(centroid(0 until 30), centroid(100 until 130)) < 2.0,
      s"P1 cross-batch ${dist(centroid(0 until 30), centroid(100 until 130))}")
    // the unique population is NOT collapsed onto P2 (or P1)...
    assert(dist(centroid(130 until 160), centroid(30 until 60)) > 10.0,
      s"P3 vs P2 ${dist(centroid(130 until 160), centroid(30 until 60))}")
    assert(dist(centroid(130 until 160), centroid(0 until 30)) > 10.0)
    // ...its false anchors scored 0, so it receives the same rigid batch
    // correction the true (P1) anchors estimated, preserving structure
    val orig = mixPca.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def origCentroid(ids: Range) = {
      val vs = ids.map(orig(_)); vs.head.indices.map(d => vs.map(_(d)).sum / vs.size)
    }
    val inferredShift = origCentroid(100 until 130).zip(centroid(0 until 30))
      .map { case (b2, b1) => b2 - b1 }
    val expectedP3 = origCentroid(130 until 160).zip(inferredShift)
      .map { case (p, s) => p - s }
    assert(dist(centroid(130 until 160), expectedP3) < 1.5,
      s"P3 corrected ${centroid(130 until 160)} expected $expectedP3")
  }

  /** Average same-batch fraction of each cell's k exact nearest
    * neighbors — the kBET-style mixing statistic. 1.0 = batches fully
    * separated; the fixture's balanced 50/50 design mixes toward ~0.5
    * when correction aligns the twin populations. */
  private def mixing(emb: Map[Long, Seq[Double]], k: Int = 10): Double = {
    val ids = emb.keys.toSeq.sorted
    def batch(id: Long) = if (id < 100) 0 else 1
    val scores = ids.map { i =>
      val nn = ids.filter(_ != i).sortBy(j => dist(emb(i), emb(j))).take(k)
      nn.count(j => batch(j) == batch(i)).toDouble / k
    }
    scores.sum / scores.size
  }

  test("golden: correction moves the batch-mixing metric from separated to mixed") {
    val orig = pca.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // before: the (8,-6,4) shift dwarfs the jitter — every cell's
    // 10-NN are all same-batch
    assert(mixing(orig) == 1.0)
    val out = Integration.integrateEmbeddings(pca, groups, kAnchor = 8, kWeight = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val after = mixing(out)
    // golden: 0.6975 measured on the seeded, deterministic fixture with
    // the EXACT Seurat FindWeights kernel (1 - d/d_k distance weights,
    // score scaling, 1 - exp(-w/(2/sd^2)), sum-1 normalization); the
    // superseded score/(1+d) approximation measured 0.65875 on the same
    // fixture — the two forms measurably differ here because the exact
    // kernel zeroes the furthest selected anchor and renormalizes.
    // Tolerance covers fp drift in distributed double reductions. Not
    // the 0.49 of perfect random mixing — the weighted-anchor blend
    // leaves residual shift — but a 30-point drop from full separation
    // with population structure intact (asserted by the tests above).
    assert(math.abs(after - 0.6975) < 0.02, s"mixing after correction: $after")
  }

  private lazy val handFixture = (
    Seq((1L, Array(0.0, 0.0, 0.0)), (2L, Array(10.0, 0.5, 0.0)),
      (11L, Array(0.0, 1.0, 0.0)), (12L, Array(10.0, 1.0, 0.0)),
      (13L, Array(2.0, 1.0, 0.0))).toDF("cells_id", "pc"),
    Seq(1L -> "a", 2L -> "a", 11L -> "b", 12L -> "b", 13L -> "b")
      .toDF("cells_id", "group"))

  test("hand-computed FindWeights kernel: furthest selected anchor contributes zero") {
    // Minimal fixture where the exact kernel and the superseded
    // score/(1+d) approximation disagree. Reference a={1:(0,0,0),
    // 2:(10,0.5,0)}; query b={11:(0,1,0), 12:(10,1,0), 13:(2,1,0)}.
    // kAnchor=1 mutual pairs: (11,1) vec (0,-1,0) and (12,2) vec
    // (0,-0.5,0); kScore=0 makes every score 1. Cell 13 selects pair
    // anchors 11 (d=2) and 12 (d=8): the exact kernel gives the
    // furthest (12) weight 1-d/d_k = 0, so the correction is pair 11's
    // vector ALONE -> 13 lands exactly at (2,0,0). The approximation
    // blended 1/3 vs 1/9 weights -> y = 0.125, measurably different.
    val (pcaDf, grpDf) = handFixture
    val out = Integration.integrateEmbeddings(pcaDf, grpDf,
      kAnchor = 1, kWeight = 2, dims = 3, kScore = 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(0.0, 0.0, 0.0) && out(2L) == Seq(10.0, 0.5, 0.0))
    // self-anchors: each anchor cell corrected by exactly its own vector
    assert(out(11L) == Seq(0.0, 0.0, 0.0), s"11 -> ${out(11L)}")
    assert(out(12L) == Seq(10.0, 0.5, 0.0), s"12 -> ${out(12L)}")
    // the non-anchor cell: nearest pair's vector alone (exact kernel)
    assert(out(13L) == Seq(2.0, 0.0, 0.0), s"13 -> ${out(13L)}")
  }

  test("every query cell's kWeight nearest anchors equal a brute-force scan") {
    // the correction's search: batch 2 against anchors in only one of
    // its populations, so the other population's cells must reach ~28
    // units for theirs; an anchor cell counts itself at distance 0
    val kWeight = 4
    val qry = pca.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .filter(_._1 >= 100).sortBy(_._1)
    val (ids, pts) = (qry.map(_._1), qry.map(_._2))
    assert(ids.length == 40)
    val anchors = ids.indices.filter(i => ids(i) < 120 && ids(i) % 3 == 0).toArray
    val got = Integration.nearestAnchors(pts, ids, anchors, kWeight)
    pts.indices.foreach { c =>
      val nearest = got(c).map { case (a, d) => (d, ids(a)) }.sorted.take(kWeight)
      val scan = anchors.map { a =>
        (pts(c).indices.foldLeft(0.0) { (s, d) => val x = pts(c)(d) - pts(a)(d); s + x * x }, ids(a))
      }.sorted.take(kWeight).map { case (s, a) => (math.sqrt(s), a) }.toSeq
      assert(nearest == scan, s"cell ${ids(c)}")
    }
  }

  test("single group passes through unchanged") {
    val single = groups.filter(col("group") === "batch1")
    val out = Integration.integrateEmbeddings(
      pca.join(single, Seq("cells_id"), "left_semi"), single)
    assert(out.count() == 40)
  }

  /** Three groups of 200 cells in 8-D, ids interleaved across groups:
    * four populations shared by every group and a fifth only in g2,
    * each group shifted by its own vector, spread shrinking by
    * dimension so the covariances' spectra are well separated. With
    * dims = 4, kFilter = 10 (< 200 reference cells) and kScore = 20,
    * every stage of the kernel changes the result. */
  private lazy val (seeded, seededGroups) = {
    val rnd = new scala.util.Random(14)
    val centres = Array.fill(5, 8)(rnd.nextGaussian() * 10)
    val shifts = Array.fill(8)(0.0) +: Array.fill(2, 8)(rnd.nextGaussian())
    val cells = for (g <- 0 until 3; i <- 0 until 200) yield {
      val pop = if (g == 2) i % 5 else i % 4
      (3L * i + g, Array.tabulate(8)(d =>
        centres(pop)(d) + shifts(g)(d) + rnd.nextGaussian() * 2.0 / (d + 1)), s"g$g")
    }
    (cells.map(c => (c._1, c._2)).toDF("cells_id", "pc").persist(),
      cells.map(c => (c._1, c._3)).toDF("cells_id", "group").persist())
  }

  private def seededRun(pca: DataFrame = seeded, groups: DataFrame = seededGroups,
                        kScore: Int = 20, kFilter: Int = 10, dims: Int = 4) =
    points(Integration.integrateEmbeddings(pca, groups, kAnchor = 5, kWeight = 10,
      dims = dims, kScore = kScore, kFilter = kFilter))

  private def points(df: DataFrame): Map[Long, Seq[Double]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  /** The kernel's output against [[IntegrationReference]]'s: the same
    * cells, each coordinate within 1e-9. */
  private def assertReference(pca: DataFrame, groups: DataFrame, kAnchor: Int = 5,
                              kWeight: Int = 5, dims: Int = 30, kScore: Int = 30,
                              kFilter: Int = 200): Map[Long, Seq[Double]] = {
    val got = points(Integration.integrateEmbeddings(pca, groups, kAnchor, kWeight, dims,
      kScore, kFilter))
    val want = points(IntegrationReference.integrateEmbeddings(pca, groups, kAnchor, kWeight,
      dims, kScore, kFilter))
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) =>
      assert(got(id).length == w.length &&
        w.indices.forall(d => math.abs(got(id)(d) - w(d)) <= 1e-9), s"cell $id: ${got(id)} vs $w")
    }
    got
  }

  test("the kernel equals the distributed reference on every fixture") {
    assertReference(pca, groups, kAnchor = 8, kWeight = 8)
    assertReference(mixPca, mixGroups, dims = 3, kScore = 0)
    assertReference(mixPca, mixGroups, dims = 1, kScore = 20)
    assertReference(handFixture._1, handFixture._2, kAnchor = 1, kWeight = 2, dims = 3, kScore = 0)
    val single = groups.filter(col("group") === "batch1")
    assertReference(pca, single)
    assertReference(seeded, seededGroups, kWeight = 10, dims = 4, kScore = 20, kFilter = 10)
  }

  test("on the seeded fixture every stage changes the result") {
    val out = seededRun()
    val in = points(seeded)
    assert(out.count { case (id, p) => p != in(id) } > 300)
    assert(seededRun(kFilter = 200) != out, "kFilter")
    assert(seededRun(kScore = 0) != out, "kScore")
    assert(seededRun(dims = 8) != out, "dims")
  }

  test("the kernel runs two Spark jobs: the count and the collect") {
    val (out, jobs) = jobsDuring(Integration.integrateEmbeddings(seeded, seededGroups))
    assert(jobs == 2)
    val (n, consumed) = jobsDuring(out.collect().length)
    assert(n == 600 && consumed == 0)
  }

  test("output is bit-identical across input and shuffle partitionings") {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val runs = try {
      for (parts <- Seq(1, 7); shuffleParts <- Seq("1", "7")) yield {
        spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
        seededRun(seeded.repartition(parts), seededGroups.repartition(parts))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    assert(runs.forall(_ == runs.head))
  }

  test("an input past the driver bound is refused before the collect") {
    val (refused, jobs) = jobsDuring(scala.util.Try(Integration.integrateEmbeddings(
      seeded, seededGroups, 5, 5, 30, 30, 200, limitBytes = 1000)))
    assert(refused.failed.get.isInstanceOf[Snn.CorpusTooLargeException])
    assert(refused.failed.get.getMessage.contains("1200 rows of 8 dims"))
    assert(jobs == 1)
  }

  test("a one-cell query group is corrected against the reference") {
    val one = groups.filter(col("cells_id") < 40 || col("cells_id") === 100)
    val out = assertReference(pca.join(one, Seq("cells_id"), "left_semi"), one)
    val orig = points(pca)
    assert(out.size == 41)
    (0 until 40).foreach(i => assert(out(i.toLong) == orig(i.toLong)))
    // cell 100 is P1 shifted by (8,-6,4): it lands back among P1
    assert(dist(out(100L), orig(0L)) < 1.0, s"${out(100L)}")
  }

  test("a query group with no mutual pair passes through unchanged") {
    // dims = 1: q→r on the reference axis sends 10, 11, 12, 13 to
    // 0, 1, 3, 0, and r→q on the query axis sends 0, 1, 2, 3 to
    // 11, 13, 13, 13, so no pair is mutual
    val pcaDf = Seq(
      (0L, Array(10.0, 6.0)), (1L, Array(7.0, 0.0)), (2L, Array(0.0, 10.0)),
      (3L, Array(3.0, 7.0)), (10L, Array(9.0, 5.0)), (11L, Array(10.0, 4.0)),
      (12L, Array(0.0, 1.0)), (13L, Array(4.0, 0.0))).toDF("cells_id", "pc")
    val grpDf = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L)
      .map(id => id -> (if (id < 10) "a" else "b")).toDF("cells_id", "group")
    val out = assertReference(pcaDf, grpDf, kAnchor = 1, dims = 1)
    assert(out == points(pcaDf))
    // the same cells on the joint axes do find anchors
    assert(assertReference(pcaDf, grpDf, kAnchor = 1, dims = 2) != out)
  }

  test("a group of identical points (zero covariance, all distances tied)") {
    val flat = (100L until 120L).map(id => (id, Array(3.0, -2.0, 1.0)))
    val pcaDf = (pca.filter(col("cells_id") < 40).as[(Long, Array[Double])].collect().toSeq ++ flat)
      .toDF("cells_id", "pc")
    val out = assertReference(pcaDf, groups, dims = 2)
    // ties go to the lower id in every search, so every cell selects
    // the same anchor pairs and lands on the same point
    val moved = (100L until 120L).map(out)
    assert(moved.distinct.size == 1 && moved.head != Seq(3.0, -2.0, 1.0), s"${moved.head}")
  }

  test("three groups: the first is untouched, the others each corrected against it") {
    val out = seededRun()
    val in = points(seeded)
    def pair(g: String) = seededRun(groups = seededGroups.filter(col("group").isin("g0", g)))
    val (g1, g2) = (pair("g1"), pair("g2"))
    out.foreach { case (id, p) =>
      id % 3 match {
        case 0 => assert(p == in(id))
        case 1 => assert(p == g1(id))
        case _ => assert(p == g2(id))
      }
    }
  }
}
