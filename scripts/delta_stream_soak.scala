// Streaming delta-dedup soak: DocStream.deltaDedupStream under
// sustained load — a 500k-doc standing index (100k distinct texts x
// duplicity 5: 100k fp rows, 400k band rows), 400k delta docs streamed
// in 40 batches of 10k.
// Claims under test:
//  - the corpus contributes ZERO stream state: every corpus lookup is
//    one row-local read of the index's probe (TextQueries.DedupProbe),
//    collected and broadcast once before the stream starts — its build
//    time, rows and bytes are printed;
//  - the only state is the within-delta (fp -> first) map, which goes
//    FLAT once the watermark horizon starts evicting (event time
//    advances 30 min/batch, horizon 1 h => ~2 batches of fresh fps);
//  - statuses land at the planted mixture (1/4 exact_dup_corpus,
//    1/4 near_dup_corpus, 1/8 new + 1/8 exact_dup_delta pairs,
//    1/4 new), at streaming throughput.
// Run (box idle; local[4] with --driver-memory 4g and 4 shuffle
// partitions fits a 4-core host):
//   sbt -batch package
//   /opt/spark/bin/spark-shell --master local[32] --driver-memory 16g \
//     --conf spark.ui.enabled=false \
//     --conf spark.sql.shuffle.partitions=32 \
//     --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.extensions=graft.functions.GraftExtensions \
//     --jars target/scala-2.13/dataingestspark_2.13-0.1.0.jar \
//     -I scripts/delta_stream_soak.scala
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.DocStream
import graft.streaming.DocStream.Doc
import graft.operators.TextQueries
import java.sql.Timestamp

{
implicit val ctx = spark.sqlContext
spark.conf.set("spark.sql.streaming.stateStore.providerClass",
  "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
spark.sparkContext.setLogLevel("ERROR")
val ckpt = java.nio.file.Files.createTempDirectory("delta_soak").toString
val t0Epoch = 1700000000000L

def baseText(b: Long): String =
  (0 until 60).map(k => s"c${b}t$k").mkString(" ")

// standing corpus: 500k docs, 100k distinct texts (duplicity 5,
// different orderings would need a shuffle — exact copies suffice:
// the fp table collapses them, the sim reps collapse them)
val corpus = spark.range(500000)
  .select(col("id").as("doc_id"),
    concat_ws(" ", (0 until 60).map(k =>
      concat(lit("c"), (col("id") / 5).cast("long"), lit(s"t$k"))): _*)
      .as("text"))
val t0 = System.nanoTime()
val index = TextQueries.buildDedupIndex(corpus)
println(f"index build: fp=${index.fp.count()} bands=${index.bands.count()}" +
  f" in ${(System.nanoTime() - t0) / 1e9}%.1f s")

val tp = System.nanoTime()
val probe = index.probe.value // built once here; the query reuses it
println(f"probe build: fp=${probe.fpRows} bands=${probe.bandRows}" +
  f" bytes=${org.apache.spark.util.SizeEstimator.estimate(probe)}" +
  f" in ${(System.nanoTime() - tp) / 1e9}%.2f s")

val mem = MemoryStream[Doc]
val q = DocStream.deltaDedupStream(mem.toDF(), index)
  .writeStream.format("memory").queryName("delta_soak")
  .outputMode("append")
  .option("checkpointLocation", ckpt).start()

val t1 = System.nanoTime()
val nBatches = 40; val perBatch = 10000
(0 until nBatches).foreach { b =>
  val base = t0Epoch + b.toLong * 30 * 60 * 1000
  mem.addData((0 until perBatch).map { i =>
    val id = 1000000L + b.toLong * perBatch + i
    val text = (i % 4) match {
      case 0 => baseText((b * perBatch + i) % 100000)          // exact_dup_corpus
      case 1 => baseText((b * perBatch + i) % 100000)
        .replace("t59", "mut")                                  // near_dup_corpus
      case 2 => (0 until 60).map(k => s"f${b}p${i / 8}t$k")
        .mkString(" ")  // fresh PAIR: i%8==2 and i%8==6 share i/8 -> one new + one exact_dup_delta
      case _ => (0 until 60).map(k => s"u${b}i${i}t$k").mkString(" ") // unique new
    }
    Doc(new Timestamp(base + (i % (30 * 60 * 1000)).toLong), id, text)
  })
  q.processAllAvailable()
  if ((b + 1) % 5 == 0) {
    val so = q.lastProgress.stateOperators(0)
    val secs = (System.nanoTime() - t1) / 1e9
    val done = (b + 1L) * perBatch
    println(f"delta batch=${b + 1} cum_docs=$done state_rows=${so.numRowsTotal}" +
      f" elapsed=$secs%.1f s docs_per_s=${done / secs}%.0f")
  }
}
val counts = spark.table("delta_soak").groupBy("status").count()
  .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
println("statuses: " + counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
println("total=" + counts.values.sum)
q.stop(); index.release()
println("DONE_DELTA_STREAM_SOAK")
}
sys.exit(0)
