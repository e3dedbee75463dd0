package graft.operators

import graft.SparkSpec
import graft.core.Tables
import java.nio.file.Files

/** Round-7 session-hygiene guards: the composed pipelines persist a
  * shared subtree purely as an intra-query sharing device, and must
  * hand that memory back once their result materializes. A service
  * calling corpusFilter/curationPipeline per request must not
  * accumulate MEMORY_AND_DISK entries until someone calls
  * clearCache() (the round-6 behavior; Bench papered over it with a
  * clearCache per rep). */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  private def docsDir(n: Long): String = {
    val dir = Files.createTempDirectory("r7docs").toString
    (0L until n).map(i =>
      (i, s"the quick brown fox ${i % 7} jumps over dog $i end", "en",
        s"s${i % 3}", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Release rides the (async) listener bus — poll, don't assert. */
  private def awaitCacheEmpty(what: String, timeoutMs: Long = 20000): Unit = {
    val t0 = System.currentTimeMillis()
    while (!spark.sharedState.cacheManager.isEmpty &&
           System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(50)
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$what left persisted entries in the session cache")
  }

  test("x30 curationPipeline releases its tokenization cache after the action") {
    spark.catalog.clearCache()
    val t = Tables(spark, docsDir(300))
    val rows = TextQueries.curationPipeline(t).collect()
    assert(rows.nonEmpty)
    awaitCacheEmpty("curationPipeline")
  }

  test("x19 corpusFilter releases its tokenization cache after the action") {
    spark.catalog.clearCache()
    val t = Tables(spark, docsDir(300))
    assert(TextQueries.corpusFilter(t).collect().nonEmpty)
    awaitCacheEmpty("corpusFilter")
  }

  test("x13/x21 simhash pipelines release the fingerprint cache") {
    spark.catalog.clearCache()
    val t = Tables(spark, docsDir(300))
    TextQueries.simhashPairs(t).collect() // may be empty: no near-dups
    awaitCacheEmpty("simhashPairs")
    TextQueries.dupClusters(t).collect()
    awaitCacheEmpty("dupClusters")
  }

  test("q38Approx tracks exact q38 within the sketch's rank-error bound") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val exact = StarQueries.q38(t).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // accuracy=10000 on a ~6k-row table: GK is exact (eps < 1/n), but
    // approx_percentile returns an OBSERVED value (no interpolation),
    // so even here it may sit one order statistic off the interpolated
    // exact quartile — allow 1% relative slack
    val approx = StarQueries.q38Approx(t).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (p25, p50, p75) = exact(r.getString(0))
      def close(a: Double, b: Double) = math.abs(a - b) / b < 0.01
      assert(close(r.getDouble(1), p25) && close(r.getDouble(2), p50) &&
        close(r.getDouble(3), p75), s"$r vs ($p25,$p50,$p75)")
    }
  }

  test("q38Auto routes on the probed distinct count: GK past the threshold, exact under it") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString
    // forced routes skip the probe entirely
    assert(planOf(StarQueries.q38Auto(t, exact = Some(true)))
      .contains("percentile("))
    assert(planOf(StarQueries.q38Auto(t, exact = Some(false)))
      .contains("approx_percentile"))
    // probe route: sf0.001 has ~5-6k distinct prices per group — a
    // threshold of 10 forces the GK path, the default keeps exact
    val gk = StarQueries.q38Auto(t, maxExactDistinct = 10)
    assert(planOf(gk).contains("approx_percentile"), planOf(gk))
    val ex = StarQueries.q38Auto(t)
    assert(planOf(ex).contains("percentile(") &&
      !planOf(ex).contains("approx_percentile"), planOf(ex))
    // routed results are the operators themselves — exact path is the
    // gate's q38 verbatim
    assert(ex.collect().toSeq == StarQueries.q38(t).collect().toSeq)
  }

  test("q38Auto probe cost: forced routes launch no job; the probe runs at most once per call") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    // warm plan construction + parquet footers OUTSIDE the counted window
    StarQueries.q38Auto(t, exact = Some(true)).queryExecution.analyzed
    // every t.lineitem access pays one parquet footer-schema job
    // (Tables builds a fresh reader per access, by design — nothing
    // cached so Catalyst sees the full pipeline); only EXECUTION jobs
    // count as "the probe ran"
    def probeJobs(f: => Unit): Int =
      jobsDuring(f, keep = !_.startsWith("parquet at "))._2
    // forced routes: plan construction only, zero Spark jobs
    val forced = probeJobs {
      StarQueries.q38Auto(t, exact = Some(true))
      StarQueries.q38Auto(t, exact = Some(false))
    }
    assert(forced == 0, s"forced routes must skip the probe entirely: $forced jobs")
    // the probe route costs a CONSTANT number of jobs per call (AQE
    // may split the one HLL scan into >1 job, so pin linearity, not
    // an absolute): doubling the calls exactly doubles the jobs —
    // i.e. the probe runs at most once per call, never re-executed
    // inside a single invocation
    val perCall = probeJobs(StarQueries.q38Auto(t))
    assert(perCall >= 1, "the None route must actually probe")
    val twoCalls = probeJobs { StarQueries.q38Auto(t); StarQueries.q38Auto(t) }
    assert(twoCalls == 2 * perCall,
      s"probe job count not linear in calls: 1 call = $perCall, 2 calls = $twoCalls")
  }
}
