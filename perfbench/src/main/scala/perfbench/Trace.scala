package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark's local-property keys for the job group (private in SparkContext). */
object JobGroup {
  val Id = "spark.jobGroup.id"
  val Description = "spark.job.description"
}

/** Engine counters of one Spark job group. */
final class GroupCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planMs = new AtomicLong
}

/** Attributes every Spark job and its tasks to the job group that was
  * set on the thread that launched it. Threads the program starts
  * inside a span inherit the group (Spark local properties are
  * inheritable), so per-sample thread pools and broadcast threads land
  * in the span that caused them. A finished QueryExecution's planning
  * time (analysis + optimization + planning from its `tracker`) goes to
  * the group of the latest SQL execution started before it finished:
  * both arrive in order on Spark's shared listener queue, and the
  * harness runs one operation at a time. */
final class GroupListener extends SparkListener with QueryExecutionListener {
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupCounters]
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]
  val events = new AtomicLong

  def of(group: String): GroupCounters = groups.computeIfAbsent(group, _ => new GroupCounters)

  /** Time spent inside this listener's callbacks: the tracer's own cost. */
  val busyNs = new AtomicLong
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    events.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroup.Id)))
    g.foreach { id =>
      of(id).jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, id))
    }
  }

  @volatile private var sqlGroup: Option[String] = None
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      timed { sqlGroup = s.jobGroupId }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    events.incrementAndGet()
    Option(stageGroup.get(e.stageId)).foreach { id =>
      val c = of(id)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.taskMs.addAndGet(m.executorRunTime)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = timed {
    events.incrementAndGet()
    sqlGroup.foreach(of(_).planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  /** The listener bus is asynchronous: wait until no event has arrived
    * for 150 ms (at most 10 s) before reading counters. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(150)
    }
  }
}

/** One closed span: `<layer>.<call>` name, wall interval, parent span,
  * trace (operation) id, JVM GC time inside it, and the job group whose
  * engine counters belong to it. */
final case class Span(id: Int, name: String, traceId: String, parent: Option[Int],
                      startNs: Long, endNs: Long, gcMs: Long, group: String) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written when the run
  * ends; `selfS` is a span's wall minus the part its children cover. */
final class Tracer(spark: SparkSession, val cores: Int) {
  val listener = new GroupListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  private val t0 = System.nanoTime()

  attach()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }

  /** Runs `body` inside span `name`; the body's Spark jobs carry the
    * span's job group. */
  def span[A](name: String, traceId: String)(body: => A): A = {
    val sc = spark.sparkContext
    val id = { nextId += 1; nextId }
    val group = s"pb-$id-$name"
    val prevGroup = Option(sc.getLocalProperty(JobGroup.Id))
    val prevDesc = Option(sc.getLocalProperty(JobGroup.Description))
    val parent = stack.headOption
    stack = id :: stack
    sc.setJobGroup(group, name)
    val gc0 = Proc.gcMs()
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      stack = stack.tail
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, prevDesc.getOrElse(""))
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, traceId, parent, s, e, Proc.gcMs() - gc0, group)
    }
  }

  def all: Seq[Span] = spans.toSeq

  def selfS(sp: Span): Double = {
    val covered = spans.iterator.filter(_.parent.contains(sp.id)).map(_.wallS).sum
    math.max(0.0, sp.wallS - covered)
  }

  /** Layer record of one span: self time, jobs, task seconds, shuffle
    * and spill MB, GC seconds, and core use = task_s / (wall x cores)
    * with its base. Counters include jobs of descendant spans only when
    * they ran under this span's own group (children set their own). */
  def record(sp: Span): Map[String, Any] = {
    val c = listener.of(sp.group)
    val taskS = c.taskMs.get / 1e3
    val base = sp.wallS * cores
    Map("name" -> sp.name, "trace_id" -> sp.traceId, "span_id" -> sp.id,
      "parent" -> sp.parent, "start_s" -> (sp.startNs - t0) / 1e9,
      "end_s" -> (sp.endNs - t0) / 1e9, "wall_s" -> sp.wallS, "self_s" -> selfS(sp),
      "jobs" -> c.jobs.get, "tasks" -> c.tasks.get, "task_s" -> taskS,
      "shuffle_mb" -> c.shuffleWriteBytes.get / 1e6, "spill_mb" -> c.spillBytes.get / 1e6,
      "gc_s" -> sp.gcMs / 1e3, "plan_s" -> c.planMs.get / 1e3,
      "core_use" -> (if (base > 0) taskS / base else 0.0), "core_base_s" -> base)
  }
}

/** Host and process readings from /proc and the JVM. */
object Proc {
  def gcMs(): Long = {
    var s = 0L
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
    s
  }

  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    catch { case _: java.io.IOException => "" }

  /** (steal, iowait) cumulative seconds over all CPUs, from the `cpu`
    * line of /proc/stat (USER_HZ = 100). */
  def stealIowaitS(): (Double, Double) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(_.trim.split("\\s+")) match {
      case Some(f) if f.length > 8 => (f(8).toLong / 100.0, f(5).toLong / 100.0)
      case _ => (0.0, 0.0)
    }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
