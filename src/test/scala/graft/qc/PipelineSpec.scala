package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** dataIntegration → configureEmbedding over a two-population matrix:
  * the full downstream analytics path on Experiment handles. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val (expr, cells) = {
    val e = PipelineSpec.rows.toDF("sample", "barcode", "gene", "count")
    val c = graft.operators.MergeSamples.withCellsId(
      e.select("sample", "barcode").distinct())
    (e, c)
  }

  test("dataIntegration: PCA separates the two programs") {
    val red = DataIntegration.run(expr, cells, numHvg = 20, numPcs = 5)
    assert(red.varianceExplained.head > 0.5)
    assert(red.hvg.count() > 0)
    val pc1 = red.pca.join(cells, "cells_id")
      .select("barcode", "pc").collect()
      .map(r => r.getAs[String]("barcode") -> r.getSeq[Double](1).head)
    val (a, b) = pc1.partition(_._1 < "c12")
    val (ma, mb) = (a.map(_._2).sum / a.length, b.map(_._2).sum / b.length)
    // the two programs land on opposite sides of PC1
    assert(a.forall(p => math.abs(p._2 - ma) < math.abs(p._2 - mb)))
    assert(b.forall(p => math.abs(p._2 - mb) < math.abs(p._2 - ma)))
  }

  test("runIntegrated: two batches of the same programs converge in PC space") {
    // the s1 fixture duplicated as batch s2 with a mild systematic
    // depth shift — the full multi-batch wiring (normalize -> HVG ->
    // scale -> PCA -> rPCA anchors) must pull same-program cells from
    // the two batches together
    val rows2 = (0 until 24).flatMap { c =>
      val program = if (c < 12) "gA" else "gB"
      val own = (0 until 8).map(g => ("s2", f"c$c%02d", s"$program$g", 36L + (c % 4) * 2))
      val shared = (0 until 4).map(g => ("s2", f"c$c%02d", s"gS$g", 7L + c % 3))
      own ++ shared
    }
    val expr2 = expr.unionByName(rows2.toDF("sample", "barcode", "gene", "count"))
    val cells2 = graft.operators.MergeSamples.withCellsId(
      expr2.select("sample", "barcode").distinct())
    val red = DataIntegration.runIntegrated(expr2, cells2, numHvg = 20, numPcs = 5)
    assert(red.pca.count() == 48)
    val pts = red.pca.join(cells2, "cells_id")
      .select("sample", "barcode", "pc").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Double](2)))
    def centroid(sel: ((String, String, Seq[Double])) => Boolean) = {
      val vs = pts.filter(sel).map(_._3)
      vs.head.indices.map(d => vs.map(_(d)).sum / vs.size)
    }
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val aS1 = centroid(p => p._1 == "s1" && p._2 < "c12")
    val aS2 = centroid(p => p._1 == "s2" && p._2 < "c12")
    val bS1 = centroid(p => p._1 == "s1" && p._2 >= "c12")
    // same program across batches sits closer than the other program
    // within the reference batch
    assert(dist(aS1, aS2) < dist(aS1, bS1),
      s"cross-batch ${dist(aS1, aS2)} vs cross-program ${dist(aS1, bS1)}")
  }

  test("configureEmbedding: louvain + umap recover the two programs") {
    val red = DataIntegration.run(expr, cells, numHvg = 20, numPcs = 5)
    val emb = ConfigureEmbedding.run(red.pca, numPCs = 5, k = 8, umapEpochs = 50)
    val byCluster = emb.clusters.join(cells, "cells_id")
      .select("barcode", "cluster").collect()
      .groupBy(_.getAs[Long]("cluster"))
      .view.mapValues(_.map(_.getAs[String]("barcode")).toSet).toMap
    assert(byCluster.size == 2, s"got clusters: $byCluster")
    assert(byCluster.values.toSet ==
      Set((0 until 12).map(c => f"c$c%02d").toSet,
        (12 until 24).map(c => f"c$c%02d").toSet))
    assert(emb.umap.count() == 24)
  }

  test("clusters above 10,000 cells equal Clustering.louvain over the SNN graph") {
    // 10,500 cells in 30 overlapping Gaussian groups, 4 PCs of which
    // run keeps 3: past the exact-layout size, the clustering is still
    // the one Louvain kernel over the same graph
    val rnd = new scala.util.Random(13)
    val pca = (0 until 10500).map { i =>
      val g = i % 30
      (i.toLong, Array(2.0 * (g % 5) + rnd.nextGaussian(), 2.0 * (g / 5) + rnd.nextGaussian(),
        rnd.nextGaussian(), 100.0 * rnd.nextGaussian()))
    }.toDF("cells_id", "pc").persist()
    val emb = ConfigureEmbedding.run(pca, numPCs = 3, k = 5, umapEpochs = 1)
    val got = emb.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trimmed = pca.select(col("cells_id"), slice(col("pc"), 1, 3).as("pc")).persist()
    val want = graft.ml.Clustering.louvain(trimmed.select("cells_id"),
      graft.ml.Snn.graph(graft.ml.Snn.knn(trimmed, 5), 5), resolution = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 10500 && want.size == 10500)
    val differ = got.count { case (c, l) => !want.get(c).contains(l) }
    assert(differ == 0, s"$differ cells differ: ${got.values.toSet.size} clusters, " +
      s"louvain gives ${want.values.toSet.size}")
    trimmed.unpersist(); pca.unpersist()
  }
}

object PipelineSpec {
  /** 24 cells of sample s1, two expression programs of 8 genes each + 4
    * shared genes: `(sample, barcode, gene, count)`. */
  val rows: Seq[(String, String, String, Long)] = (0 until 24).flatMap { c =>
    val program = if (c < 12) "gA" else "gB"
    val own = (0 until 8).map(g => ("s1", f"c$c%02d", s"$program$g", 30L + (c % 4) * 2))
    val shared = (0 until 4).map(g => ("s1", f"c$c%02d", s"gS$g", 5L + c % 3))
    own ++ shared
  }
}
