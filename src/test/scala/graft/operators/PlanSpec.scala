package graft.operators

import graft.SparkSpec
import graft.core.Tables

/** Physical-plan quality as a TESTED property (the 100 TB posture of
  * SURVEY §4): filters must reach the parquet scan, dimension joins
  * must broadcast, repeated subplans must reuse exchanges, and top-k
  * must not global-sort. A regression here is a performance bug even
  * while results stay correct. */
class PlanSpec extends SparkSpec {

  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** A session on the shared context whose registry holds no `graft_*`
    * function — the shape of a session built without the extensions. */
  private def strippedSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    registry.listFunction().filter(_.funcName.startsWith("graft_"))
      .foreach(registry.dropFunction)
    assert(!registry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_tokens")))
    s
  }

  test("registration: Tables gives a session without the extensions the native functions") {
    val s = strippedSession()
    val df = TextQueries.textStats(Tables(s, "/root/testdata/sf0.001"))
    val p = df.queryExecution.analyzed.toString
    // tokens are the native scan, not the interpreted filter(split(...)) lambda
    assert(p.contains("graft_tokens") && !p.contains("filter(split("), p.take(2000))
    assert(df.count() > 0)
    // idempotent: a second Tables over the same session still plans natively
    assert(TextQueries.textStats(Tables(s, "/root/testdata/sf0.001"))
      .queryExecution.analyzed.toString.contains("graft_tokens"))
  }

  test("registration: a frame built outside Tables on a bare session fails naming the function") {
    val s = strippedSession()
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.range(1).select(graft.functions.TextFunctions.tokens(
        org.apache.spark.sql.functions.lit("a b")))
    }
    assert(e.getMessage.contains("graft_tokens"), e.getMessage)
  }

  test("q02: predicate pushed down to the parquet scan") {
    val p = plan(StarQueries.q02(t))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_quantity"), p.take(2000))
  }

  test("q01: scan schema pruned to the projected columns") {
    val p = plan(StarQueries.q01(t))
    assert(!p.contains("l_comment") && !p.contains("l_extendedprice"))
  }

  test("q15: all three dimension joins are broadcast-hash") {
    val p = plan(StarQueries.q15(t))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 BroadcastHashJoin, plan:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q25: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(StarQueries.q25(t))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q07: hash aggregation with map-side partial aggregation") {
    val p = plan(StarQueries.q07(t))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("x13: Hamming cut runs inside the band join; simhash is codegen'd") {
    val p = plan(TextQueries.simhashPairs(t))
    // bit_count(xor) <= 6 evaluated as a join condition, not a
    // post-join filter over the full candidate blowup
    val joinLine = p.split("\n").find(l => l.contains("Join") && l.contains("bit_count"))
    assert(joinLine.isDefined, p.take(3000))
    // the fingerprint is the native row-local expression — no
    // per-token exchange, no interpreted higher-order lambda
    assert(p.contains("graft_simhash"), "native simhash projection missing")
    assert(!p.contains("aggregate(lambdafunction"), "HOF simhash crept back in")
    // the self-join either reuses the exchange (large inputs) or
    // broadcasts the banded side (small inputs)
    assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"))
  }

  test("x08: query side broadcast, corpus side never shuffled for the join") {
    val p = plan(Similarity.bruteForceTopK(t, 3, 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("x07: one shingle scan serves signatures and verification") {
    // exchange reuse is decided by AQE at runtime — assert on the final
    // adaptive plan, after execution
    val df = TextQueries.lshPairs(t)
    df.collect()
    // executedPlan.toString appends the pre-AQE "Initial Plan" section,
    // which never runs — audit only the final plan
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the distinct hashed-shingle exchange is planned once and reused by
    // every other consumer instead of re-tokenizing the documents table
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert(scans <= 1, s"expected 1 parquet scan (got $scans)\n${p.take(3000)}")
  }

  test("broadcast dimension strategy survives a 10x fact blowup") {
    // the sf1 soak finding as a regression guard (SOAK_sf1.md): blow
    // the fact sides up 10x and assert the hinted dimension joins are
    // still planned broadcast — a silent flip to sort-merge on nation/
    // region is exactly the scale regression the soak watches for
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("sf10x").toString
    Seq("region", "nation").foreach(n => spark.read.parquet(s"$src/$n.parquet")
      .write.mode("overwrite").parquet(s"$dir/$n.parquet"))
    Seq("orders", "customer").foreach { n =>
      val base = spark.read.parquet(s"$src/$n.parquet")
      Seq.fill(10)(base).reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    val p = plan(StarQueries.q15(Tables(spark, dir)))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2,
      s"hinted dimension joins lost broadcast at 10x, plan:\n${p.take(3000)}")
  }

  test("mtx DSv2 scan prunes the triple to the projected columns") {
    val dir = java.nio.file.Files.createTempDirectory("mtxplan")
    java.nio.file.Files.writeString(dir.resolve("matrix.mtx"),
      "%%MatrixMarket matrix coordinate integer general\n2 2 2\n1 1 5\n2 2 7\n")
    val df = spark.read.format("mtx").load(dir.resolve("matrix.mtx").toString)
      .select("count")
    val p = plan(df)
    // the pushed projection reaches the custom Scan (its description
    // echoes the pruned read schema), and the plan is a v2 BatchScan
    assert(p.contains("BatchScan"), p.take(2000))
    assert(p.contains("ReadSchema: struct<count:bigint>"), p.take(2000))
    assert(!p.contains("gene_idx"), "unprojected triple columns survived pruning")
    assert(df.collect().map(_.getLong(0)).toSet == Set(5L, 7L))
  }

  test("per-sample stage filter prunes a sample-partitioned store to one partition") {
    // No ingest stage filters by sample; a reader of the
    // sample-partitioned checkpoint (Ingest.Config.checkpointDir) or
    // of an ExperimentStore-shaped layout that does filter
    // (col("sample") === s) must get a PartitionFilters entry (scan
    // one directory), not a row filter.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pruned").toString
    Seq(("s1", "b1", "g1", 3L), ("s2", "b2", "g1", 5L))
      .toDF("sample", "barcode", "gene", "count")
      .write.mode("overwrite").partitionBy("sample").parquet(s"$dir/expr")
    val expr = spark.read.parquet(s"$dir/expr")
    val perSample = expr.filter(col("sample") === "s1")
      .groupBy("sample", "barcode")
      .agg(org.apache.spark.sql.functions.sum("count").as("total"))
    val p = plan(perSample)
    val scanLine = p.split("\n").filter(_.contains("PartitionFilters")).mkString
    assert(scanLine.contains("sample"), p.take(3000))
    assert(perSample.collect().map(_.getString(0)).forall(_ == "s1"))
  }

  test("q34: rollup produces every level from ONE Expand + one aggregation shuffle") {
    val p = plan(StarQueries.q34(t))
    assert("Expand".r.findAllIn(p).length == 1, p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("x55: corpus report is ONE Expand (rollup) and never a window") {
    val p = plan(TextQueries.corpusReport(t))
    assert("Expand".r.findAllIn(p).length == 1, p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("x54: leakage split is two hash exchanges (group + join), no window") {
    val p = plan(TextQueries.leakageSplit(t))
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("Exchange hashpartitioning(fp"), p.take(3000))
  }

  test("x52: contrastive mining reuses the shared shingle exchange like x07") {
    val df = TextQueries.contrastivePairs(t)
    df.collect() // AQE finalizes exchange reuse only during execution
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert("Scan parquet".r.findAllIn(p).length <= 1, p.take(3000))
  }

  test("x42: corpus side collapses to distinct-sim reps before banding (the 13x 12M fix)") {
    val p = plan(TextQueries.deltaDedup(t))
    // the rep collapse is a sim-keyed aggregation feeding the band
    // explode — without it the banded join pairs every bag member
    assert(p.contains("Exchange hashpartitioning(sim"), p.take(4000))
  }

  test("q35: declared pivot values avoid a distinct-discovery job") {
    val p = plan(StarQueries.q35(t))
    // a single grouped aggregation — no extra shuffle from collecting
    // pivot values at plan time
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p.take(2000))
  }

  test("q36: as-of is window-based — no range-join blowup, user-keyed exchanges only") {
    val p = plan(StarQueries.q36(t))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // error dedup (user_id, ts_ns) + as-of window (user_id)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p.take(2000))
  }

  test("global (single-partition) windows appear ONLY in oracle-mandated queries") {
    // A WindowExec with an empty partitionSpec drags the whole input
    // into one task — a scale-killer unless the query's SEMANTICS are a
    // global order. Sweep every gate query's physical plan and pin the
    // offender set to exactly the queries whose oracle demands a total
    // order: q21 (dense global id), q23 (global lag), q30 (corpus-wide
    // BH-FDR rank). Production forms of all three are partitioned
    // (DenseId two-pass, EmptyDrops per-sample BH) — the gate shapes
    // are the declared, correct exception. Anything else showing up
    // here is a regression (e.g. Hvg's old global rank window).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def hasGlobalWindow(p: SparkPlan): Boolean = {
      val here = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.nonEmpty
      here || p.collect { case a: AdaptiveSparkPlanExec => a }
        .exists(a => hasGlobalWindow(a.executedPlan))
    }
    val allowed = Set("q21_denseid", "q23_lag", "q30_bhfdr")
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      if (hasGlobalWindow(df.queryExecution.executedPlan)) Some(name) else None
    }
    assert(offenders.toSet == allowed,
      s"global-window queries ${offenders.mkString(",")} != allowed ${allowed.mkString(",")}")
  }

  test("x34: PII scrub is one narrow pass — no aggregation shuffle, no UDF") {
    val p = plan(TextQueries.piiRedact(t))
    // only the final ORDER BY may exchange (range partitioning); the
    // regex counts/redaction must not introduce a hash shuffle
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("BatchEvalPython") && p.contains("regexp_replace"),
      p.take(2000))
  }

  test("x35: chunk dedup windows on the chunk text, never a global order") {
    val p = plan(TextQueries.chunkDedup(t))
    assert(p.contains("Exchange hashpartitioning(chunk"), p.take(3000))
  }

  test("x36: DSIR log-ratio is broadcast, no corpus-sized cache, native bigram hash") {
    val df = TextQueries.dsirWeights(t)
    val p = plan(df)
    // round-10 shape: two independent codegen passes — the model fit
    // aggregates straight to the <=4096-row marginals, the scoring
    // pass re-hashes — and NO corpus-sized cache (the old persisted
    // per-(doc,bucket) table was x36's bench-spread source and is
    // exactly what a 100 TB two-pass pipeline must not require)
    assert(!p.contains("InMemoryTableScan") && !p.contains("TableCacheQueryStage"),
      p.take(3000))
    // the <=4096-row log-ratio model joins the scoring pass broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastQueryStage"),
      p.take(3000))
    // bigram hashing is the native expression, not the interpreted HOFs
    assert(p.contains("graft_hashed_shingles"), p.take(3000))
  }

  test("pqQuery: probes and LUTs broadcast onto the codes table, top-k rides WindowGroupLimit") {
    val index = Similarity.buildPqIndex(t)
    try {
      val q = t.embeddings.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
        .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
          org.apache.spark.sql.functions.col("embedding").as("qe"))
      val p = plan(Similarity.pqQuery(index, q, k = 10, nprobe = 4))
      val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
      assert(broadcasts >= 2, s"probes+luts should both broadcast:\n${p.take(3000)}")
      assert(!p.contains("SortMergeJoin"), p.take(3000))
      assert(p.contains("WindowGroupLimit"), p.take(3000))
      // the scan side is the 8 B/vector codes table, not raw embeddings:
      // no embedding column survives past the index into the ADC join.
      // r12: the re-rank runs the ADC shortlist as its own bounded job,
      // so the RETURNED plan is just the fetch — shortlist and query
      // batch broadcast onto the raw scan, which now carries a pushed
      // vec_id IN/range predicate instead of scanning the corpus
      val rr = plan(Similarity.pqQuery(index, q, k = 10, nprobe = 4,
        rerankShortlist = 50))
      assert("BroadcastHashJoin".r.findAllIn(rr).length >= 2, rr.take(3000))
      assert(!rr.contains("SortMergeJoin"), rr.take(3000))
      assert(rr.contains("INSET") || rr.contains(" IN ("),
        s"pruned fetch should filter vec_id to the shortlist:\n${rr.take(3000)}")
    } finally index.release()
  }

  test("no query's generated method exceeds the JVM JIT bytecode limit") {
    // HotSpot never JITs methods over 8000 bytecodes
    // (DontCompileHugeMethods): the stage compiles (janino) but runs in
    // the bytecode interpreter ~100x slow, with NO error anywhere — the
    // round-10 ANN soak caught x60's ADC scan at 629 s vs 8.7 s brute
    // force from exactly this (fused method 9,545 bytecodes; fixed to
    // 3,855 via driver-side pre-rounding + the one-call graft_nano_sum
    // fold). This sweep fails loudly if any query's fused stage creeps
    // back over the cliff. AQE is disabled for the measurement only:
    // codegenString sees no subtrees under an unexecuted adaptive root.
    val sizeRe = "maxMethodCodeSize:(\\d+)".r
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val cg = org.apache.spark.sql.execution.debug.codegenString(
            fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan)
          val max = sizeRe.findAllMatchIn(cg).map(_.group(1).toInt)
            .foldLeft(0)(math.max)
          if (max > 8000) Some(s"$name: $max") else None
      }
      assert(offenders.isEmpty, s"stages past the JIT limit: $offenders")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("no index-build stage exceeds the JVM JIT bytecode limit either") {
    // The query sweep above only sees each gate's RETURNED plan; the
    // build-once index encodes (PqIndex, IvfIndex, DedupIndex) persist
    // a SEPARATE plan the sweep never visits — found in round 11 while
    // chasing a 10M build-wall swing (the swing was host noise, but the
    // blind spot was real: an encode stage past the cliff would run
    // every index build interpreted with no artifact showing it).
    // InMemoryTableScan hides the cached plan from codegenString, so
    // measure relation.cachedPlan directly.
    val sizeRe = "maxMethodCodeSize:(\\d+)".r
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val tt = graft.core.Tables(spark, "/root/testdata/sf0.001")
      val pq = Similarity.buildPqIndex(tt)
      val ivf = Similarity.buildIvfIndex(tt)
      val dedup = TextQueries.buildDedupIndex(tt.documents)
      val builds = Seq(
        "pq.codes" -> pq.codes, "ivf.assigned" -> ivf.assigned,
        "dedup.fp" -> dedup.fp, "dedup.bands" -> dedup.bands)
      try {
        val offenders = builds.flatMap { case (name, df) =>
          val cached = df.queryExecution.executedPlan.collect {
            case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              s.relation.cachedPlan
          }
          assert(cached.nonEmpty, s"$name: no InMemoryRelation — not persisted?")
          cached.flatMap { p =>
            val cg = org.apache.spark.sql.execution.debug.codegenString(p)
            val max = sizeRe.findAllMatchIn(cg).map(_.group(1).toInt)
              .foldLeft(0)(math.max)
            if (max > 8000) Some(s"$name: $max") else None
          }
        }
        assert(offenders.isEmpty, s"index-build stages past the JIT limit: $offenders")
      } finally {
        pq.release(); ivf.release(); dedup.fp.unpersist(); dedup.bands.unpersist()
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("q37: JSON path extraction stays codegen'd, no UDF node") {
    val p = plan(StarQueries.q37(t))
    assert(p.contains("get_json_object") && !p.contains("BatchEvalPython"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2000)) // partial agg
  }
}
