// Domain-pipeline soak: the reference's workload shape
// (1_Preproc.r:109-112 — up to 1e6 barcodes/sample) at parameterized
// scale. Stages: EmptyDrops.run(expr, 100, 500); CellQc.minFeatureFilter
// + Doublets.scores; DataIntegration.runIntegrated(numHvg = 1000,
// numPcs = 30); ConfigureEmbedding.run(numPCs = 20, k = 15). Each
// prints its wall time, shuffle write and the heap pools' peak. Run via
// spark-shell -I (see SOAK_domain.md); lines of interest start with
// "SOAK".
//   SOAK_AMBIENT / SOAK_REAL: ambient barcodes / real cells per sample
//   SOAK_GENES: nonzero genes per real cell (default 200)
//   SOAK_STAGES: the stages to run (default
//     "emptyDrops,doublets,integration,embedding"; embedding needs
//     integration)
import org.apache.spark.sql.functions._
import spark.implicits._

val nAmbient = sys.env.getOrElse("SOAK_AMBIENT", "45000").toLong
val nReal    = sys.env.getOrElse("SOAK_REAL", "5000").toLong
val nGenes   = 20000L
val realGenes = sys.env.getOrElse("SOAK_GENES", "200").toLong // nnz per real cell
// every 25th real cell (4%) is a planted doublet: it also carries the
// counts of the real cell half a sample away, whose genes lie elsewhere
val plantEvery = 25L
val stages = sys.env.getOrElse("SOAK_STAGES",
  "emptyDrops,doublets,integration,embedding").split(",").toSet

val shuffleTotal = new java.util.concurrent.atomic.AtomicLong
spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
  override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
    shuffleTotal.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
})

// distributed synthetic 10x-shaped COO (nothing driver-side): ambient
// barcodes of 3 genes @ 1-2 counts; real cells of realGenes genes @ 5-24
// with near-unique id-local gene neighbourhoods (id*37 mod 7919 gene
// base), so kNN/cluster structure exists without coincident cells
def gen(name: String, off: Int) = {
  val amb = spark.range(nAmbient)
    .select(lit(name).as("sample"), format_string("AMB%08d", col("id")).as("barcode"),
      explode(sequence(lit(0L), lit(2L))).as("g"), col("id"))
    .select(col("sample"), col("barcode"),
      format_string("G%05d", pmod(col("id") * 7 + col("g") * 7919 + lit(off), lit(nGenes))).as("gene"),
      (lit(1L) + pmod(col("id") + col("g"), lit(2L))).as("count"))
  def cells(ids: org.apache.spark.sql.DataFrame) = ids
    .select(col("barcode"), explode(sequence(lit(0L), lit(realGenes - 1L))).as("g"), col("id"))
    .select(lit(name).as("sample"), col("barcode"),
      format_string("G%05d", pmod(pmod(col("id") * 37, lit(7919L)) + col("g") * 3 + lit(off), lit(nGenes))).as("gene"),
      (lit(5L) + pmod(col("id") * 13 + col("g") * 7, lit(20L))).as("count"))
  val real = cells(spark.range(nReal).select(format_string("CELL%07d", col("id")).as("barcode"), col("id")))
  val partners = cells(spark.range(nReal).filter(col("id") % plantEvery === 0)
    .select(format_string("CELL%07d", col("id")).as("barcode"),
      pmod(col("id") + lit(nReal / 2), lit(nReal)).as("id")))
  amb.unionByName(real.unionByName(partners)
    .groupBy("sample", "barcode", "gene").agg(sum("count").as("count")))
}
val expr = gen("s1", 0).unionByName(gen("s2", 3))
  .repartition(32).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
println(s"SOAK rows=${expr.count()} barcodes_per_sample=${nAmbient + nReal}")

val heapPools = { import java.lang.management._
  ManagementFactory.getMemoryPoolMXBeans.toArray.map(_.asInstanceOf[MemoryPoolMXBean])
    .filter(_.getType == MemoryType.HEAP) }
def measured[A](stage: String)(f: => A): A = {
  System.gc(); heapPools.foreach(_.resetPeakUsage())
  val s0 = shuffleTotal.get(); val t0 = System.nanoTime()
  val out = try f catch {
    case e: Throwable => var c: Throwable = e; while (c.getCause != null) c = c.getCause
      println(s"SOAK $stage FAILED ${(System.nanoTime() - t0) / 1e9}s: $c"); sys.exit(1) }
  println(f"SOAK $stage ${(System.nanoTime() - t0) / 1e9}%.1f s shuffle ${(shuffleTotal.get() - s0) / 1e6}%.0f MB peak heap ${heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0}%.0f MB")
  out
}

if (stages("emptyDrops")) {
  val (ed, scored) = measured("emptyDrops") {
    val r = graft.ml.EmptyDrops.run(expr, 100, 500)
    val s = r.scores.persist(); (r, s.count()) }
  println(s"SOAK flagged=${ed.flagged.mkString("[", ",", "]")} scored=$scored " +
    s"fdr<=0.01=${ed.scores.filter(col("emptyDrops_FDR") <= 0.01).count()}")
  ed.scores.unpersist()
}
val pre = graft.qc.CellQc.minFeatureFilter(expr, 10)
if (stages("doublets")) {
  val dbl = measured("doublets") { val d = graft.ml.Doublets.scores(pre); d.count(); d }
  val planted = substring(col("barcode"), 5, 7).cast("long") % plantEvery === 0 &&
    col("barcode").startsWith("CELL")
  val Array(r) = dbl.agg(count(lit(1)), count(when(col("doublet_class") === "doublet", 1)),
    count(when(planted, 1)), count(when(planted && col("doublet_class") === "doublet", 1))).collect()
  println(f"SOAK rows=${r.getLong(0)} called=${r.getLong(1)} planted=${r.getLong(2)} " +
    f"recall=${r.getLong(3).toDouble / math.max(r.getLong(2), 1L)}%.3f")
}
if (stages("integration")) {
  // persisted: the stage reads it twice (the rows' semi-join and the
  // kernel's cells), and re-running its distinct would make each run's
  // shuffle differ
  val cellsBase = graft.operators.MergeSamples.withCellsId(pre.select("sample", "barcode").distinct())
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  cellsBase.count()
  val red = measured("integration") {
    val r = graft.qc.DataIntegration.runIntegrated(
      expr.join(cellsBase.select("sample", "barcode"), Seq("sample", "barcode"), "left_semi"),
      cellsBase, numHvg = 1000, numPcs = 30)
    r.pca.count(); r
  }
  println(s"SOAK pca rows=${red.pca.count()}")
  if (stages("embedding")) {
    val emb = measured("embedding") {
      graft.qc.ConfigureEmbedding.run(red.pca, numPCs = 20, k = 15, umapEpochs = 50) }
    println(s"SOAK clusters=${emb.clusters.select("cluster").distinct().count()}")
  }
}
sys.exit(0)
