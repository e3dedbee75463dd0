package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test`
  * fork; building a session per suite would dominate test time). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Start events of the Spark jobs launched while `f` runs. Exact:
    * after `f` a marker job runs in its own job group, and since a
    * listener gets its events in order, the marker's arrival means
    * every job started before it has been seen. */
  def jobStartsDuring[A](f: => A): (A, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val marker = s"jobs-during-${System.nanoTime}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
        else { starts.add(js); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      (out, starts.toArray(Array.empty[SparkListenerJobStart]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** How many jobs `f` launches whose stage names, joined by `|`, pass
    * `keep`. */
  def jobsDuring[A](f: => A, keep: String => Boolean = _ => true): (A, Int) = {
    val (out, starts) = jobStartsDuring(f)
    (out, starts.count(js => keep(js.stageInfos.map(_.name).mkString("|"))))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
