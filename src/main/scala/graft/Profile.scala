package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** Round-13 optimization-phase profiler (guide §1: measure first).
  *
  * Runs each declared query once warm (same noop-sink methodology as
  * [[Bench]]) with a listener attached, and reports per query:
  *   - wall: end-to-end seconds for the timed execution
  *   - jobs / stages / tasks: counts (Spark job-launch overhead is
  *     O(jobs); a 0.3 s query with 9 jobs is scheduling-bound)
  *   - taskSec: sum of task run time — wall >> taskSec/cores means the
  *     query is serial or scheduling-bound, not compute-bound
  *   - maxStageSerialSec: the longest single-task stage (a stage whose
  *     task count is 1 but runtime dominates = the single-row-group
  *     decode / un-widened fan-out signature, guide §2.5)
  *   - stageTop: the 3 most expensive stages as
  *     (tasks, totalTaskSec, maxTaskSec) — skew shows as max≈total
  *     with tasks>1.
  *
  * Output: one JSON line per query to `profile_summary.json` — a
  * diagnostic artifact only; BENCH numbers stay [[Bench]]'s.
  */
object Profile {

  private final class QueryListener extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    // stageId -> (numTasks, totalTaskMs, maxTaskMs); guarded by its own
    // monitor (listener events may arrive on several bus threads)
    val stageAgg = new mutable.HashMap[Int, (Int, Long, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val ms = Option(e.taskInfo).map(_.duration).getOrElse(0L)
      stageAgg.synchronized {
        val (n, tot, mx) = stageAgg.getOrElse(e.stageId, (0, 0L, 0L))
        stageAgg(e.stageId) = (n + 1, tot + ms, math.max(mx, ms))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", graft.core.Scratch.localDir())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a failing gate ends the run instead of being profiled as fast
    def run(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => throw new RuntimeException(s"gate $name failed", e) }
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queryFns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val out = new StringBuilder
    queryFns.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      // warm: codegen compile + footer reads priced out, like Bench
      run(name, fn)
      spark.catalog.clearCache()
      val l = new QueryListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      run(name, fn)
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async (and its drain API is private[spark]):
      // poll until the task counter stabilizes, max 2 s
      var last = -1; var spins = 0
      while (l.tasks.get != last && spins < 20) {
        last = l.tasks.get; Thread.sleep(100); spins += 1
      }
      spark.sparkContext.removeSparkListener(l)
      val aggs = l.stageAgg.values.toSeq
      val taskSec = aggs.map(_._2).sum / 1e3
      val serial = aggs.filter(_._1 == 1).map(_._3).maxOption.getOrElse(0L) / 1e3
      val top = aggs.sortBy(-_._2).take(3)
        .map { case (n, tot, mx) => s"[$n,${tot / 1e3},${mx / 1e3}]" }
        .mkString("[", ",", "]")
      val line =
        s"""{"q":"$name","wall":${f"$wall%.3f"},"jobs":${l.jobs.get},"stages":${l.stages.get},"tasks":${l.tasks.get},"taskSec":${f"$taskSec%.2f"},"maxSerialStageSec":${f"$serial%.2f"},"stageTop":$top}"""
      println(line)
      out.append(line).append('\n')
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("profile_summary.json"), out.toString)
    spark.stop()
  }
}
