package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {
  /** One timed repetition with its trust metadata (r11 verdict item 1:
    * BENCH_r11's headline was 2.3x inflated by box contention and the
    * artifact recorded NOTHING that let a reader prove it — the
    * committed 146.5 s vs an idle-box 81.5 s). `at` is the rep's
    * wall-clock start (epoch ms), `gcMs` the JVM GC time spent inside
    * the rep, `load1` the host 1-min load average at rep start: a
    * 25-47 s outlier rep of a sub-second plan now carries its own
    * evidence (load1 >> cpus, or gcMs ~ wall) instead of reading as an
    * engine regression. */
  private final case class Rep(sec: Double, at: Long, gcMs: Long, load1: Double,
                               stealCs: Long, iowaitCs: Long)

  /** Cumulative host-steal time in centiseconds (USER_HZ jiffies,
    * summed over all vCPUs) from /proc/stat — field 9 of the "cpu"
    * line. This box is a VM whose host steals CPU in multi-minute
    * bursts (r13: 4,600 cumulative steal-seconds in the first 85 min
    * of uptime, bursty); load1 can't see it (stolen time leaves
    * threads runnable), so a rep's 3x outlier under steal looked
    * identical to an engine regression. The per-rep steal DELTA
    * attributes it directly: engine-slow reps show steal ~0, host-
    * contended reps show steal of the same order as the wall. */
  private def cpuLine(): Array[String] =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat"))).linesIterator
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .getOrElse(Array.empty)
    catch { case _: Throwable => Array.empty }

  private def stealCs(): Long = {
    val f = cpuLine(); if (f.length > 8) f(8).toLong else -1L
  }

  /** Cumulative iowait cs (field 5) — a slow rep with steal ~0 AND
    * gc ~0 but iowait of the wall's order is blocked on storage (host
    * disk contention), the one stall class steal can't see. */
  private def iowaitCs(): Long = {
    val f = cpuLine(); if (f.length > 5) f(5).toLong else -1L
  }

  private def loadAvg(): Seq[Double] =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")
      .take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  private def gcTime(): Long = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    var s = 0L; val it = beans.iterator()
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local()
    val loadStart = loadAvg()
    val stealStart = stealCs()
    // warm-up: JIT/codegen/session init and first-touch parquet footer
    // reads priced outside the timings — one cheap query per table
    // family (star joins, part regex, lineitem scan, documents text,
    // embeddings vectors, events timestamps)
    // full evaluation via the no-op sink: count() lets Catalyst drop
    // the final sort AND prune aggregate-backed left joins (the right
    // side is provably unique on the join key and contributes no
    // columns to a count), so count-based timings skip real work —
    // measured at sf1: x27 11.2s noop-write vs 0.16s count().
    // A failing gate ends the run: a swallowed failure would be timed
    // as a fast rep.
    def run(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => throw new RuntimeException(s"gate $name failed", e) }
    Seq("q15_multijoin", "q03_regex", "q01_project", "x02_textstats",
        "x08_cosine_topk", "q31_window").foreach { q =>
      run(q, SparkEntry.queries(q))
    }
    // k=3 timed runs per query, report the MEDIAN: single-shot numbers
    // are sub-second-noisy enough to fake 2x regressions on unchanged
    // plans round-over-round; the per-query spread (max-min) is emitted
    // alongside so a wide median is visibly unstable rather than wrong
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated query filter for targeted measurement
    // while iterating (the driver never sets it → full set)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def measure(name: String, fn: (SparkSession, String) => DataFrame,
                n: Int): Seq[Rep] =
      (0 until n).map { _ =>
        // x19/x30 persist their shared tokenization internally; drop it
        // between reps so every rep pays the full build (cached repeats
        // would fake a ~3x speedup on exactly the slowest queries)
        spark.catalog.clearCache()
        val l1 = loadAvg().head
        val gc0 = gcTime()
        val st0 = stealCs()
        val io0 = iowaitCs()
        val at = System.currentTimeMillis()
        val t0 = System.nanoTime()
        run(name, fn)
        Rep((System.nanoTime() - t0) / 1e9, at, gcTime() - gc0, l1,
          if (st0 < 0) -1L else stealCs() - st0,
          if (io0 < 0) -1L else iowaitCs() - io0)
      }
    // one UNTIMED warmup execution per query before its timed reps:
    // the session-level warmup above prices table first-touch out, but
    // each query still paid its own whole-stage-codegen compile inside
    // rep 1 — a fixed per-plan-shape cost that made first-rep outliers
    // dominate the spread stat (r9: x36 rep spread ~80% of median from
    // a single ~1.6 s compile-heavy rep over a ~0.85 s steady state).
    // clearCache() still runs before every TIMED rep, so data-level
    // caching stays priced in; only the JIT/codegen cache persists —
    // which is exactly what the warmup is for.
    def measureWarm(name: String, fn: (SparkSession, String) => DataFrame,
                    n: Int): Seq[Rep] = {
      spark.catalog.clearCache()
      run(name, fn)
      measure(name, fn, n)
    }
    val queryFns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val firstPass = queryFns.map { case (name, fn) => name -> measureWarm(name, fn, reps) }
    // the worst-10 by first-pass median get 2 extra reps (r8 verdict:
    // their spreads reach ~50% of median at 3 reps, too wide for
    // regression calls — 5 samples + the raw arrays below let the
    // next verdict compare min-of-reps instead of noisy medians)
    val worst10 = firstPass
      .sortBy { case (_, rs) =>
        val ts = rs.map(_.sec).sorted; -ts(ts.length / 2) }
      .take(10).map(_._1).toSet
    val fnByName = queryFns.toMap
    val allReps = firstPass.map { case (name, rs0) =>
      name -> (if (worst10(name)) rs0 ++ measure(name, fnByName(name), 2) else rs0)
    }
    val allTimes = allReps.map { case (name, rs) => name -> rs.map(_.sec).sorted }
    val results = allTimes.map { case (name, ts) =>
      name -> (ts(ts.length / 2), ts.last - ts.head)
    }
    // a rep >3x its query's own min is flagged CONTENDED: an unchanged
    // sub-second plan does not take 25-47 s on an idle box (BENCH_r11's
    // x63 sorted reps ran 0.65/0.98/7.9/26.0/40.8 under driver-side
    // load) — the flag makes the artifact self-adjudicating
    val contended = allReps.flatMap { case (name, rs) =>
      val mn = rs.map(_.sec).min
      val n = rs.count(_.sec > 3 * math.max(mn, 0.05))
      if (n > 0) Some(name -> n) else None
    }
    def json(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = json(results.map { case (k, (med, _)) => k -> med })
    val spread = json(results.map { case (k, (_, sp)) => k -> sp })
    val total = results.map(_._2._1).sum
    // methodology note (r8): pre-r8 driver artifacts truncated this
    // line to its TAIL, exposing the spread map where medians were
    // expected — r7's "x30 median 1.61s" was really x30's max−min
    // spread (true r6/r7 medians: 3.03/3.93, in each round's worst5).
    // The compact per_query line below is the tail-safe median record.
    val note = "queries=medians,spread=max-min; r10+: one untimed " +
      "warmup exec per query prices its codegen compile out of rep 1 " +
      "(data caches still cleared before every timed rep); r12+: " +
      "rep_meta carries per-rep start epoch-ms, GC ms and host load1, " +
      "contended flags reps >3x their query's min; r13+: 5th rep_meta " +
      "element is the rep's host-steal delta in cs (/proc/stat cpu " +
      "field 9; /100 = stolen cpu-seconds across all vCPUs) - steal " +
      "of the rep's wall order proves host contention, steal ~0 on a " +
      "slow rep points at the engine; 6th element is the rep's iowait " +
      "delta in cs (slow + steal ~0 + gc ~0 + iowait high = host disk " +
      "stall)"
    def repsJson(names: Seq[String]) = names.map { k =>
      "\"" + k + "\":[" + allTimes.toMap.apply(k).map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val worstNames = results.sortBy(-_._2._1).take(10).map(_._1)
    // min-of-reps is the regression-call statistic for the worst-10
    // (r10 verdict item 7): their 5-rep spreads run ~40% of median, so
    // round-over-round median deltas re-litigate scheduler drift; the
    // min is the stable floor-of-possible, and it lands in the PARSED
    // total_summary line so every BENCH_r{N}.json carries it.
    def minJson(names: Seq[String], shortIds: Boolean) = names.map { k =>
      "\"" + (if (shortIds) k.takeWhile(_ != '_') else k) + "\":" +
        fmt(allTimes.toMap.apply(k).head)
    }.mkString("{", ",", "}")
    // full per-rep trust metadata, run order preserved (NOT sorted):
    // each rep is [sec, start_epoch_ms, gc_ms, load1_at_start, steal_cs,
    // iowait_cs]
    val repMeta = allReps.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(r =>
        s"[${fmt(r.sec)},${r.at},${r.gcMs},${fmt(r.load1)},${r.stealCs},${r.iowaitCs}]")
        .mkString(",") + "]"
    }.mkString("{", ",", "}")
    val contendedJson = contended.map { case (k, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val loadEnd = loadAvg()
    val stealTotal = if (stealStart < 0) -1L else stealCs() - stealStart
    def loadJson(l: Seq[Double]) = l.map(fmt).mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","method":"noop_write","note":"$note","queries":$qs,"spread":$spread,"rep_samples":${repsJson(worstNames)},"min_of_reps":${minJson(worstNames, shortIds = false)},"rep_meta":$repMeta,"contended":$contendedJson,"loadavg_start":${loadJson(loadStart)},"loadavg_end":${loadJson(loadEnd)},"steal_cs_total":$stealTotal,"cpus":$cpus,"sf":"$sfDir","reps":$reps}"""
    println(full)
    // the full per-query JSON also lands on disk: stdout goes through
    // sbt's logger, whose "[info] " prefix keeps any line from parsing
    // as bare JSON (BENCH_r05 recorded parsed:null for this reason) —
    // the file is the machine-readable artifact of record
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_summary.json"), full + "\n")
    // The driver's artifact keeps only a ~2000-byte TAIL of stdout, so
    // the full-precision line above gets its head cut (r7 lost q01–q20
    // medians from BENCH_r07.json). The last two lines are sized to fit
    // that window together:
    //  - per_query: ALL medians, compacted to survive — ids shortened
    //    to their unique q##/x## prefix, values to 3 decimals (~1 KB);
    //  - total_summary: the headline numbers, LAST so a line-bounded
    //    tail also keeps it. Distinct metric names so a consumer
    //    aggregating by metric can't double-count the totals.
    val compact = results.map { case (k, (med, _)) =>
      // Locale.ROOT: the f-interpolator is locale-sensitive and a comma
      // decimal separator would break the JSON
      s"\"${k.takeWhile(_ != '_')}\":" + fmt(med)
    }.mkString("{", ",", "}")
    // raw 5-rep sample arrays for the worst-10 (shortened ids, 3 dp)
    // BEFORE per_query, so a tight tail truncates the samples' head
    // rather than the medians or the totals
    val compactReps = worstNames.map { k =>
      "\"" + k.takeWhile(_ != '_') + "\":[" +
        allTimes.toMap.apply(k).map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"worst10_reps","unit":"sec","queries":$compactReps,"sf":"$sfDir"}""")
    println(s"""{"metric":"per_query","unit":"sec","queries":$compact,"sf":"$sfDir","reps":$reps}""")
    val worst = json(results.sortBy(-_._2._1).take(5)
      .map { case (k, (med, _)) => k -> med })
    val contendedCompact = contended.map { case (k, n) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + n }.mkString("{", ",", "}")
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n":${results.length},"worst5":$worst,"min_of_reps":${minJson(worstNames, shortIds = true)},"contended":$contendedCompact,"load1_start":${fmt(loadStart.head)},"load1_end":${fmt(loadEnd.head)},"steal_cs_total":$stealTotal,"sf":"$sfDir","reps":$reps}""")
    spark.stop()
  }
}
