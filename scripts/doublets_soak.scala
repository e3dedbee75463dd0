// The emptyDrops and doublets stages of scripts/domain_soak.scala on
// their own: the same generator (2 samples, SOAK_AMBIENT ambient
// barcodes of 3 genes + SOAK_REAL real cells of 200 genes each, 20k-gene
// vocabulary), then EmptyDrops.run(expr, 100, 500) and
// CellQc.minFeatureFilter + Doublets.scores, each with wall time,
// shuffle bytes and the heap pools' peak. SOAK_STAGES (default
// "emptyDrops,doublets") picks the stages. Run via spark-shell -I (see
// SOAK_domain.md); lines of interest start with "SOAK".
import org.apache.spark.sql.functions._
import spark.implicits._
val nAmbient = sys.env.getOrElse("SOAK_AMBIENT", "45000").toLong
val nReal    = sys.env.getOrElse("SOAK_REAL", "5000").toLong
val nGenes   = 20000L
val realGenes = 200L
val shuffleTotal = new java.util.concurrent.atomic.AtomicLong
spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
  override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
    shuffleTotal.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
})
def gen(name: String, off: Int) = {
  val amb = spark.range(nAmbient)
    .select(lit(name).as("sample"), format_string("AMB%08d", col("id")).as("barcode"),
      explode(sequence(lit(0L), lit(2L))).as("g"), col("id"))
    .select(col("sample"), col("barcode"),
      format_string("G%05d", pmod(col("id") * 7 + col("g") * 7919 + lit(off), lit(nGenes))).as("gene"),
      (lit(1L) + pmod(col("id") + col("g"), lit(2L))).as("count"))
  val real = spark.range(nReal)
    .select(lit(name).as("sample"), format_string("CELL%07d", col("id")).as("barcode"),
      explode(sequence(lit(0L), lit(realGenes - 1L))).as("g"), col("id"))
    .select(col("sample"), col("barcode"),
      format_string("G%05d", pmod(pmod(col("id") * 37, lit(7919L)) + col("g") * 3 + lit(off), lit(nGenes))).as("gene"),
      (lit(5L) + pmod(col("id") * 13 + col("g") * 7, lit(20L))).as("count"))
  amb.unionByName(real)
}
val expr = gen("s1", 0).unionByName(gen("s2", 3))
  .repartition(32).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
println(s"SOAK rows=${expr.count()} barcodes_per_sample=${nAmbient + nReal}")
val stages = sys.env.getOrElse("SOAK_STAGES", "emptyDrops,doublets").split(",").toSet
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
if (stages("doublets")) {
  val dbl = measured("doublets") {
    val d = graft.ml.Doublets.scores(graft.qc.CellQc.minFeatureFilter(expr, 10)); d.count(); d }
  println(s"SOAK rows=${dbl.count()} called=${dbl.filter(col("doublet_class") === "doublet").count()}")
  dbl.groupBy("sample").agg(count(lit(1)), avg("doublet_scores")).collect().foreach(r => println("SOAK " + r))
}
sys.exit(0)
