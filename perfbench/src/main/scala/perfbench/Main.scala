package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One operation of a closed loop: its wall time, the number of items
  * (barcodes, documents) it processed, and the error if it threw. */
final case class Op(name: String, wallS: Double, items: Long, error: Option[String]) {
  def json: Map[String, Any] =
    Map("name" -> name, "wall_s" -> wallS, "items" -> items, "error" -> error)
}

/** What a workload hands back to [[Main]]. `layers` holds the per-layer
  * metrics (traced runs only); `spans` the span records. */
final case class Outcome(setupS: Double, ops: Seq[Op], checks: Map[String, Boolean],
                         notes: Map[String, Any] = Map.empty,
                         layers: Map[String, Double] = Map.empty,
                         spans: Seq[Map[String, Any]] = Nil)

/** Harness entry. Runs one workload in this JVM against the program's
  * public functions and writes `result.json` into the work directory;
  * `run.py` turns it into the benchmark's metrics.
  *
  * Usage: perfbench.Main <workload> <inputsDir> <workDir> <seconds> <trace 0|1> <cores> */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, coresArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val (steal0, iowait0) = Proc.stealIowaitS()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // engine job and task totals, printed beside the metrics (a counter
    // only: the span listener is attached in traced runs alone)
    val jobs, tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = Ctx(spark, inputs, work, seconds, trace, cores)
    val out =
      try workload match {
        case "ingest" => IngestBench.run(ctx)
        case "stream" => StreamBench.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    val (steal1, iowait1) = Proc.stealIowaitS()
    val result = Map(
      "workload" -> workload, "cores" -> cores, "trace" -> trace,
      "session_start_s" -> sessionS, "setup_s" -> (sessionS + out.setupS),
      "ops" -> out.ops.map(_.json), "checks" -> out.checks, "notes" -> out.notes,
      "layers" -> out.layers, "peak_rss_mb" -> Proc.peakRssMb(),
      "steal_s" -> (steal1 - steal0), "iowait_s" -> (iowait1 - iowait0),
      "jobs_total" -> jobs.get, "tasks_total" -> tasks.get)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), Json(result))
    if (trace)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.jsonl"),
        out.spans.map(Json(_)).mkString("", "\n", "\n"))
  }
}

/** Run settings shared by the workloads. */
final case class Ctx(spark: SparkSession, inputs: String, work: String, seconds: Double,
                     trace: Boolean, cores: Int) {

  /** Closed loop, one client: runs operation i = 0, 1, ... and starts
    * the next only after the previous one returned, until `seconds`
    * have passed (at least one, at most `maxOps` operations).
    * `op` returns the number of items it processed. A throwing
    * operation is recorded by name with its error and is never timed
    * as a success. `prepare` runs untimed before each operation. */
  def closedLoop(name: Int => String, maxOps: Int = Int.MaxValue,
                 prepare: Int => Unit = _ => ())(op: Int => Long): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < maxOps && (i == 0 || System.nanoTime() < deadline)) {
      prepare(i)
      val t0 = System.nanoTime()
      val rec =
        try { val items = op(i); Op(name(i), (System.nanoTime() - t0) / 1e9, items, None) }
        catch { case e: Exception => Op(name(i), (System.nanoTime() - t0) / 1e9, 0L,
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))) }
      ops += rec
      i += 1
    }
    ops.toSeq
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
