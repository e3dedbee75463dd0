import org.apache.spark.sql.functions._
import spark.implicits._
// the integration and embedding kNN call the native graft_dot/graft_dist2 functions
graft.functions.GraftExtensions.register(spark)
// 2 samples x (1500 ambient + 500 real cells), 200 genes
def sample(name: String, off: Int) = {
  val amb = (0 until 1500).flatMap { i =>
    (0 until 3).map(g => (name, f"AMB$i%05d", s"G${(i + g * 7 + off) % 200}", 1L + i % 2)) }
  val real = (0 until 500).flatMap { i =>
    (0 until 40).map(g => (name, f"CELL$i%04d", s"G${(i + g * 3 + off) % 200}", 5L + (i + g) % 20)) }
  amb ++ real
}
val expr = (sample("s1", 0) ++ sample("s2", 3)).toDF("sample", "barcode", "gene", "count").repartition(16).cache()
println("rows=" + expr.count())
def time[T](label: String)(f: => T): T = { val t0 = System.nanoTime(); val r = f; println(f"$label%-16s ${(System.nanoTime()-t0)/1e9}%.1fs"); r }
val ed = time("emptyDrops") { val r = graft.ml.EmptyDrops.run(expr, 100, 500); r.scores.count(); r }
println("ed rows=" + ed.scores.count() + " flagged=" + ed.flagged)
val pre = graft.qc.CellQc.minFeatureFilter(expr, 10)
// peak heap of the doublets step: the heap pools' peaks, reset after a GC
val heapPools = { import java.lang.management._
  ManagementFactory.getMemoryPoolMXBeans.toArray.map(_.asInstanceOf[MemoryPoolMXBean])
    .filter(_.getType == MemoryType.HEAP) }
System.gc(); heapPools.foreach(_.resetPeakUsage())
val dbl = time("doublets") { val d = graft.ml.Doublets.scores(pre); d.count(); d }
println(f"doublets peak heap ${heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0}%.0f MB")
println("dbl rows=" + dbl.count())
val cellsBase = graft.operators.MergeSamples.withCellsId(pre.select("sample","barcode").distinct())
val red = time("integration") { graft.qc.DataIntegration.run(expr.join(cellsBase.select("sample","barcode"), Seq("sample","barcode"), "left_semi"), cellsBase, 150, 20) }
println("pca rows=" + red.pca.count())
val emb = time("embedding") { graft.qc.ConfigureEmbedding.run(red.pca, 20, 15, umapEpochs = 50) }
println("clusters=" + emb.clusters.select("cluster").distinct().count())
sys.exit(0)
