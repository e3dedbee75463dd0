package graft.streaming

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.operators.TextQueries
import graft.streaming.DocStream.Doc
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class DocStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 09:$m%02d:00")

  private val base = (0 until 60).map(i => s"tok$i").mkString(" ")

  test("exact streaming dedup keeps first occurrence, drops later copies") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = DocStream.exactDedup(mem.toDF())
      .writeStream.format("memory").queryName("exact_dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        Doc(ts(0), 1L, base),
        Doc(ts(1), 2L, "completely different text"),
        Doc(ts(2), 3L, base)) // duplicate of doc 1
      q.processAllAvailable()
      mem.addData(Doc(ts(3), 4L, base.toUpperCase)) // fingerprint folds case
      q.processAllAvailable()
      val kept = spark.table("exact_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L))
    } finally q.stop()
  }

  test("streaming chunk dedup: a repeated 20-token span survives only its first occurrence") {
    implicit val ctx = spark.sqlContext
    val shared = (1 to 20).map(i => s"w$i").mkString(" ")
    val tailA = (1 to 5).map(i => s"a$i").mkString(" ")
    val tailB = (1 to 5).map(i => s"b$i").mkString(" ")
    val mem = MemoryStream[Doc]
    val q = DocStream.chunkDedup(mem.toDF())
      .writeStream.format("memory").queryName("chunk_dedup")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 1L, s"$shared $tailA"))
      q.processAllAvailable()
      mem.addData(Doc(ts(1), 2L, s"$shared $tailB")) // shares chunk 0
      q.processAllAvailable()
      val out = spark.table("chunk_dedup")
        .select("doc_id", "idx", "chunk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(out == Set(
        (1L, 0, shared), (1L, 1, tailA), // doc 1 intact
        (2L, 1, tailB)), // doc 2 lost the shared span, kept its tail
        out)
    } finally q.stop()
  }

  test("streaming near-dup flags a lightly-mutated copy, not unrelated text") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = DocStream.nearDupFlags(mem.toDS(), maxHamming = 10)
      .writeStream.format("memory").queryName("near_dup")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 1L, base))
      q.processAllAvailable()
      val mutated = base.replace("tok7 ", "tok7x ") // 1 of 60 tokens changed
      val unrelated = (0 until 60).map(i => s"other$i").mkString(" ")
      mem.addData(Doc(ts(1), 2L, mutated), Doc(ts(2), 3L, unrelated))
      q.processAllAvailable()
      val flags = spark.table("near_dup")
        .select("doc_id", "dup_of").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flags.contains((2L, 1L)), s"got $flags")
      assert(!flags.exists(p => p._1 == 3L || p._2 == 3L), s"got $flags")
    } finally q.stop()
  }

  test("exact dedup recovers from a checkpoint: state round-trips, only the unseen suffix is emitted") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val root = java.nio.file.Files.createTempDirectory("ckpt").toString
    val (ckpt, sink) = (s"$root/checkpoint", s"$root/out")
    def start() = DocStream.exactDedup(mem.toDF())
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", sink)
      .outputMode("append").start()
    // epoch 1: two distinct docs + one duplicate, then KILL the query
    val q1 = start()
    try {
      mem.addData(
        Doc(ts(0), 1L, base),
        Doc(ts(1), 2L, "completely different text"),
        Doc(ts(2), 3L, base)) // dup of doc 1
      q1.processAllAvailable()
    } finally q1.stop()
    // epoch 2: a dup of doc 1 (must hit RECOVERED state) + one new doc,
    // resumed from the same checkpoint
    mem.addData(Doc(ts(3), 4L, base), Doc(ts(4), 5L, "brand new text"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(sink).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    // exactly-once across the restart: 1 and 2 appear ONCE (no re-emit
    // of the pre-kill epoch), 3 and 4 dropped as dups (4 only via the
    // state-store round-trip), 5 is the one new emission
    assert(out.sorted == Seq(1L, 2L, 5L), s"got $out")
  }

  test("near-dup cohort state survives a restart from checkpoint") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val root = java.nio.file.Files.createTempDirectory("ckpt_nd").toString
    def start() = DocStream.nearDupFlags(mem.toDS(), maxHamming = 10)
      .writeStream.format("parquet") // the memory sink cannot recover
      .option("checkpointLocation", s"$root/checkpoint")
      .option("path", s"$root/out")
      .outputMode("append").start()
    val q1 = start()
    try {
      mem.addData(Doc(ts(0), 1L, base))
      q1.processAllAvailable()
    } finally q1.stop()
    // the lightly-mutated copy arrives only AFTER the restart: flagging
    // it requires doc 1's (doc_id, sim) to come back from the state store
    mem.addData(Doc(ts(1), 2L, base.replace("tok7 ", "tok7x ")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val flags = spark.read.parquet(s"$root/out")
      .select("doc_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags.contains((2L, 1L)), s"got $flags")
  }

  test("near-dup state is a bounded FIFO per bucket") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Doc]
    // perBucket=2: doc 1 must be evicted after two more cohort members,
    // so a final exact copy of it only matches the still-resident ones
    val q = DocStream.nearDupFlags(mem.toDS(), maxHamming = 0, perBucket = 2)
      .writeStream.format("memory").queryName("near_dup_fifo")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 1L, base))
      q.processAllAvailable()
      mem.addData(Doc(ts(1), 2L, base), Doc(ts(2), 3L, base))
      q.processAllAvailable()
      mem.addData(Doc(ts(3), 4L, base))
      q.processAllAvailable()
      val flags = spark.table("near_dup_fifo")
        .select("doc_id", "dup_of").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // doc4 matches docs 2 and 3 (resident) but NOT evicted doc 1
      assert(flags.contains((4L, 2L)) && flags.contains((4L, 3L)), s"got $flags")
      assert(!flags.contains((4L, 1L)), s"got $flags")
    } finally q.stop()
  }

  test("streaming domain caps: admission flags flip at the cap, counters persist across batches") {
    implicit val ctx = spark.sqlContext
    import DocStream.UrlDoc
    val mem = MemoryStream[UrlDoc]
    val q = DocStream.domainCapAdmission(mem.toDS(), cap = 2)
      .writeStream.format("memory").queryName("domain_caps")
      .outputMode("append").start()
    try {
      mem.addData(
        UrlDoc(ts(0), 1L, "a.example.com"),
        UrlDoc(ts(1), 2L, "a.example.com"),
        UrlDoc(ts(2), 3L, "b.example.com"))
      q.processAllAvailable()
      // counter for a.example.com must survive into the next batch
      mem.addData(
        UrlDoc(ts(3), 4L, "a.example.com"),
        UrlDoc(ts(4), 5L, "b.example.com"))
      q.processAllAvailable()
      val out = spark.table("domain_caps")
        .select("doc_id", "rnk", "kept").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(out(1L) == ((1L, true)) && out(2L) == ((2L, true)), out)
      assert(out(4L) == ((3L, false)), s"cap must persist: $out") // over cap
      assert(out(3L) == ((1L, true)) && out(5L) == ((2L, true)), out)
    } finally q.stop()
  }

  test("streaming quality scoring matches the batch scorer and stays stateless") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // train on a planted separable corpus (the QualityClassifierSpec shape)
    val good = Seq("theorem", "proof", "lemma", "axiom")
    val bad = Seq("click", "free", "prize", "pills")
    val corpus = (0 until 60).map { i =>
      val (voc, src) = if (i % 2 == 0) (good, "src0") else (bad, "srcX")
      (i.toLong, (0 until 8).map(j => voc((i + j) % voc.length)).mkString(" "),
        "en", src, 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = graft.ml.QualityClassifier.train(
      corpus, col("source") === "src0", buckets = 128, iters = 100,
      maxTrain = 100)
    val batch = graft.ml.QualityClassifier.score(corpus, m)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val mem = MemoryStream[Doc]
    val q = DocStream.qualityScore(mem.toDF(), m)
      .writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    try {
      val rows = corpus.select("doc_id", "text").collect()
      mem.addData(rows.take(30).map(r =>
        Doc(ts(0), r.getLong(0), r.getString(1))).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.drop(30).map(r =>
        Doc(ts(1), r.getLong(0), r.getString(1))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("quality_stream")
        .select("doc_id", "quality_prob", "kept").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
      assert(got.size == 60)
      got.foreach { case (id, (p, kept)) =>
        assert(math.abs(p - batch(id)) < 1e-9,
          s"doc $id: stream $p vs batch ${batch(id)}")
        assert(kept == (p >= 0.5))
      }
      // stateless: no state-store rows behind this query
      val prog = q.lastProgress
      assert(prog == null || prog.stateOperators.isEmpty ||
        prog.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming corpus stats: running totals equal the batch aggregation, state bounded by label space") {
    implicit val ctx = spark.sqlContext
    import DocStreamSpec.SDoc
    val rows = (0 until 120).map { i =>
      SDoc(i.toLong, (0 to i % 7).map(j => s"w$j").mkString(" "),
        s"src${i % 3}", if (i % 2 == 0) "en" else "de")
    }
    val mem = MemoryStream[SDoc]
    val q = DocStream.corpusStats(mem.toDF())
      .writeStream.format("memory").queryName("corpus_stats")
      .outputMode("update").start()
    try {
      rows.grouped(40).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable()
      }
      // latest emission per (source, lang) must equal one batch agg
      val streamed = spark.table("corpus_stats").collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4))))
        .zipWithIndex.groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1._2)
        .toMap
      val batch = DocStream.corpusStats(rows.toDF()).collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(streamed == batch)
      // 3 sources x 2 langs: six state rows, full stop
      assert(q.lastProgress.stateOperators(0).numRowsTotal == 6)
    } finally q.stop()
  }

  test("streaming delta dedup: x42 statuses in append mode against a standing index") {
    implicit val ctx = spark.sqlContext
    val near = base.replace("tok7 ", "tok7x ") // 1 of 60 tokens changed
    val fresh = (0 until 60).map(i => s"solo$i").mkString(" ")
    val corpus = Seq(1L -> base, 2L -> ((0 until 50).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.operators.TextQueries.buildDedupIndex(corpus)
    index.fp.count(); index.bands.count() // build once, up front
    val mem = MemoryStream[Doc]
    val q = DocStream.deltaDedupStream(mem.toDF(), index)
      .writeStream.format("memory").queryName("delta_dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        Doc(ts(0), 10L, s"  $base  "), // exact dup of corpus 1 (fp folds ws)
        Doc(ts(1), 11L, near),         // near dup of corpus 1
        Doc(ts(2), 12L, fresh))        // new
      q.processAllAvailable()
      mem.addData(
        Doc(ts(3), 13L, fresh),        // exact dup of delta doc 12 (cross-batch state)
        Doc(ts(4), 14L, base))         // corpus dup again — precedence over delta state
      q.processAllAvailable()
      val out = spark.table("delta_dedup")
        .select("doc_id", "status", "dup_of").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(out(10L) == (("exact_dup_corpus", 1L)), out)
      assert(out(11L) == (("near_dup_corpus", 1L)), out)
      assert(out(12L) == (("new", -1L)), out)
      assert(out(13L) == (("exact_dup_delta", 12L)), out)
      assert(out(14L) == (("exact_dup_corpus", 1L)), out)
      // statuses match the batch operator over the same corpus+delta
      val batch = graft.operators.TextQueries.deltaDedupAgainst(index,
        Seq(10L -> s"  $base  ", 11L -> near, 12L -> fresh,
          13L -> fresh, 14L -> base).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(batch == out, s"batch=$batch stream=$out")
      // state: TWO fp rows (the corpus-unknown `near` and `fresh`
      // fingerprints — a later exact copy of either is exact_dup_delta,
      // so both must be remembered); corpus-known fingerprints (docs
      // 10/14) never enter the state store
      assert(q.lastProgress.stateOperators(0).numRowsTotal == 2)
    } finally { q.stop(); index.release() }
  }

  test("streaming delta dedup folds the survivor election to min(doc_id): post-inversion rows equal batch") {
    // r10 verdict item 6: a HIGHER id arriving in an EARLIER micro-
    // batch must not poison later statuses — state folds to
    // min(stored, incoming), so every copy after the inversion points
    // at the batch-elected min survivor.
    implicit val ctx = spark.sqlContext
    val fresh = (0 until 60).map(i => s"inv$i").mkString(" ")
    val corpus = Seq(1L -> ((0 until 50).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.operators.TextQueries.buildDedupIndex(corpus)
    index.fp.count(); index.bands.count()
    val mem = MemoryStream[Doc]
    val q = DocStream.deltaDedupStream(mem.toDF(), index)
      .writeStream.format("memory").queryName("delta_dedup_inv")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 20L, fresh)); q.processAllAvailable()
      mem.addData(Doc(ts(1), 15L, fresh)); q.processAllAvailable() // id inversion
      mem.addData(Doc(ts(2), 25L, fresh)); q.processAllAvailable()
      val out = spark.table("delta_dedup_inv")
        .select("doc_id", "status", "dup_of").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      val batch = graft.operators.TextQueries.deltaDedupAgainst(index,
        Seq(20L -> fresh, 15L -> fresh, 25L -> fresh).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      // the inverted pair itself is the documented append-mode
      // divergence: 20 was already emitted as the stream survivor
      assert(out(20L) == (("new", -1L)), out)
      assert(out(15L) == (("exact_dup_delta", 20L)), out)
      assert(batch(15L) == (("new", -1L)), batch)
      assert(batch(20L) == (("exact_dup_delta", 15L)), batch)
      // every row emitted AFTER the inversion equals the batch row
      assert(out(25L) == (("exact_dup_delta", 15L)), out)
      assert(out(25L) == batch(25L), s"batch=$batch stream=$out")
    } finally { q.stop(); index.release() }
  }

  test("within-stream near-dups surface after an index refresh between batches — the documented recipe") {
    // curationStream/deltaDedupStream carry stream state only for EXACT
    // fingerprints; a within-stream near-dup pair with no index hit
    // passes un-flagged (documented contract). The operational answer
    // is absorbing processed batches into the standing index and
    // restarting the stream on the refreshed index — pin that recipe.
    implicit val ctx = spark.sqlContext
    val base2 = (0 until 60).map(i => s"nd$i").mkString(" ")
    val near1 = base2.replace("nd7 ", "nd7x ")
    val near2 = base2.replace("nd9 ", "nd9x ")
    val corpus = Seq(1L -> ((0 until 50).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.operators.TextQueries.buildDedupIndex(corpus)
    index.fp.count(); index.bands.count()
    val mem1 = MemoryStream[Doc]
    val q1 = DocStream.deltaDedupStream(mem1.toDF(), index)
      .writeStream.format("memory").queryName("nd_refresh_1")
      .outputMode("append").start()
    val out1 = try {
      mem1.addData(Doc(ts(0), 10L, base2), Doc(ts(1), 11L, near1))
      q1.processAllAvailable()
      spark.table("nd_refresh_1").select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    } finally q1.stop()
    // the gap, as documented: the pair passes un-flagged in-stream
    assert(out1 == Map(10L -> "new", 11L -> "new"), out1.toString)
    // refresh: absorb the processed batch, restart on the new index
    val batch1 = Seq(10L -> base2, 11L -> near1).toDF("doc_id", "text")
    val index2 = graft.operators.TextQueries.absorbDelta(index, batch1)
    index2.fp.count(); index2.bands.count()
    val mem2 = MemoryStream[Doc]
    val q2 = DocStream.deltaDedupStream(mem2.toDF(), index2)
      .writeStream.format("memory").queryName("nd_refresh_2")
      .outputMode("append").start()
    try {
      mem2.addData(Doc(ts(2), 12L, near2))
      q2.processAllAvailable()
      val out2 = spark.table("nd_refresh_2")
        .select("doc_id", "status", "dup_of").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      // the refreshed index catches the near-dup and points at the
      // absorbed survivor
      assert(out2(12L) == (("near_dup_corpus", 10L)), out2.toString)
    } finally { q2.stop(); index.release(); index2.release() }
  }

  test("withinStream=true: a near-dup pair in ONE stream flags the later doc — no refresh, no restart") {
    // r11 verdict item 6: the bounded alternative to the refresh
    // recipe above — the delta's own band keys ride stream state, so a
    // within-horizon near-dup pair flags across micro-batches of the
    // SAME query, with no index hit and no restart.
    implicit val ctx = spark.sqlContext
    // `base`/its tok7x mutation: Hamming 4, and the flipped bits spare
    // band 0 (a banded hit). An alternative ws0..ws59 fixture measured
    // Hamming 4 with all four bands touched — the standard LSH false
    // negative; banding trades those for bounded state, here exactly
    // as in the batch x12/x13 family.
    val base3 = base
    val near1 = base3.replace("tok7 ", "tok7x ")
    val fresh = (0 until 60).map(i => s"wf$i").mkString(" ")
    val corpus = Seq(1L -> ((0 until 50).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.operators.TextQueries.buildDedupIndex(corpus)
    index.fp.count(); index.bands.count()
    val mem = MemoryStream[Doc]
    // the band stage emits in the same micro-batch it receives, so the
    // chained-stateful late-row hazard the checker guards against
    // cannot occur — the documented escape hatch (operator scaladoc)
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val prior = spark.conf.get(checkKey, "true")
    val priorMulti = spark.conf.get(multiKey, "true")
    spark.conf.set(checkKey, "false")
    spark.conf.set(multiKey, "false")
    val q = DocStream.deltaDedupStream(mem.toDF(), index, withinStream = true)
      .writeStream.format("memory").queryName("nd_within")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 10L, base3))
      q.processAllAvailable()
      // SECOND micro-batch — the pair crosses a batch boundary through
      // the band-cohort state, not through any index
      mem.addData(Doc(ts(1), 11L, near1), Doc(ts(2), 12L, fresh))
      q.processAllAvailable()
      // precedence intact: an exact copy of the flagged doc is still
      // exact_dup_delta (near_dup_delta ranks below the exact statuses)
      mem.addData(Doc(ts(3), 13L, near1))
      q.processAllAvailable()
      val out = spark.table("nd_within")
        .select("doc_id", "status", "dup_of").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(out(10L) == (("new", -1L)), out)
      assert(out(11L) == (("near_dup_delta", 10L)), out)
      assert(out(12L) == (("new", -1L)), out)
      assert(out(13L) == (("exact_dup_delta", 11L)), out)
      // both stateful stages report, and state stays small: band
      // cohorts hold one (ms, id, sim) entry per (doc, band) inside
      // the horizon, the fp map one row per corpus-unknown fingerprint
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 2, s"expected band + fp stages, got ${ops.length}")
      assert(ops.map(_.numRowsTotal).sum <= 4 * 4 + 3,
        s"state rows: ${ops.map(_.numRowsTotal).toSeq}")
    } finally {
      q.stop(); index.release()
      spark.conf.set(checkKey, prior); spark.conf.set(multiKey, priorMulti)
    }
  }

  test("withinStream=true id-inversion: the near-dup pair swaps roles (first arrival survives); later batches stay consistent") {
    // VERDICT r12 item 7: the band-cohort state shares append-mode's
    // structural residue — when a near-dup pair arrives in id-INVERTED
    // order (higher doc_id first), the cohort can only flag the LATER
    // arrival, so the pair swaps roles vs the batch x12/x13 family
    // (where min doc_id always survives): the smaller id gets flagged,
    // pointing at the larger, first-arrived survivor. Pin the residue
    // and that post-inversion batches keep electing min survivors on
    // the fp (exact) chains exactly as the non-inverted pinned case.
    implicit val ctx = spark.sqlContext
    val near1 = base.replace("tok7 ", "tok7x ")
    val corpus = Seq(1L -> ((0 until 50).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.operators.TextQueries.buildDedupIndex(corpus)
    index.fp.count(); index.bands.count()
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val prior = spark.conf.get(checkKey, "true")
    val priorMulti = spark.conf.get(multiKey, "true")
    spark.conf.set(checkKey, "false")
    spark.conf.set(multiKey, "false")
    val mem = MemoryStream[Doc]
    val q = DocStream.deltaDedupStream(mem.toDF(), index, withinStream = true)
      .writeStream.format("memory").queryName("nd_invert")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 20L, base)) // HIGHER id arrives first
      q.processAllAvailable()
      mem.addData(Doc(ts(1), 10L, near1)) // smaller id, near-dup, later
      q.processAllAvailable()
      // post-inversion: exact copies of each text in later batches
      mem.addData(Doc(ts(2), 5L, base))
      q.processAllAvailable()
      mem.addData(Doc(ts(3), 3L, near1))
      q.processAllAvailable()
      val out = spark.table("nd_invert")
        .select("doc_id", "status", "dup_of").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      // the role swap: the batch family would keep 10 and flag 20; a
      // stream can only flag what arrives after the state exists
      assert(out(20L) == (("new", -1L)), out)
      assert(out(10L) == (("near_dup_delta", 20L)), out)
      // post-inversion parity: each fp chain's later copy points at
      // its standing survivor and re-elects the min, as pinned for the
      // exact path in the non-inverted case
      assert(out(5L) == (("exact_dup_delta", 20L)), out)
      assert(out(3L) == (("exact_dup_delta", 10L)), out)
    } finally {
      q.stop(); index.release()
      spark.conf.set(checkKey, prior); spark.conf.set(multiKey, priorMulti)
    }
  }

  test("curationStream withinStream=true: the near_dup rung fires for a within-stream pair, precedence intact") {
    // the curation composition of the deltaDedupStream band-cohort
    // stage: a near-dup pair arriving in the SAME stream (no index
    // hit) flags the later doc at the near_dup rung — and ONLY when
    // every higher rung passed (a repetitive near-dup stays
    // repetitive; an exact copy stays exact_dup).
    implicit val ctx = spark.sqlContext
    val corpus = Seq(1L -> ((0 until 50).map(i => s"cz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.operators.TextQueries.buildDedupIndex(corpus)
    index.fp.count(); index.bands.count()
    // english-passing, quality-passing doc + its light mutation
    // (the `base`/tok7x pair: hamming 4, band 0 collides)
    val keptBase = "the " + (0 until 57).map(i => s"tok$i").mkString(" ") + " of"
    val keptNear = keptBase.replace("tok7 ", "tok7x ")
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val prior = spark.conf.get(checkKey, "true")
    val priorMulti = spark.conf.get(multiKey, "true")
    spark.conf.set(checkKey, "false")
    spark.conf.set(multiKey, "false")
    val mem2_14 = MemoryStream[Doc]
    val q = DocStream.curationStream(mem2_14.toDF(), index, Seq(12345L),
        withinStream = true)
      .writeStream.format("memory").queryName("curation_within")
      .outputMode("append").start()
    try {
      mem2_14.addData(Doc(ts(0), 10L, keptBase))
      q.processAllAvailable()
      // second micro-batch: the near-dup pair crosses the batch
      // boundary through band-cohort state, plus an exact copy
      mem2_14.addData(Doc(ts(1), 11L, keptNear), Doc(ts(2), 12L, keptNear))
      q.processAllAvailable()
      val out = spark.table("curation_within")
        .select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out(10L) == "kept", out)
      assert(out(11L) == "near_dup", out)     // within-stream, no index hit
      assert(out(12L) == "exact_dup", out)    // exact beats near_dup
    } finally {
      q.stop(); index.release()
      spark.conf.set(checkKey, prior); spark.conf.set(multiKey, priorMulti)
    }
  }

  test("streaming curation: the x30 precedence chain in append mode") {
    implicit val ctx = spark.sqlContext
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    // an ENGLISH corpus doc so its near-dup passes the lang rung
    val corpusEn = (0 until 29).map(i => s"the w$i of").mkString(" ")
    val corpus = Seq(1L -> base, 2L -> corpusEn).toDF("doc_id", "text")
    val index = graft.operators.TextQueries.buildDedupIndex(corpus)
    index.fp.count(); index.bands.count()
    // standing benchmark shingle set (the x26 domain: hash60, distinct)
    val benchHashes = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
      .select(TextFunctions.hashedShingles(
        TextFunctions.tokens(col("text")), 3, 0L))
      .collect()(0).getSeq[Long](0)
    val kept = "the " + (0 until 28).map(i => s"k$i").mkString(" ") + " of"
    val docs = Map[Long, (String, String)](
      10L -> (base, "exact_dup"),                      // corpus copy
      11L -> (kept, "kept"),
      13L -> ("the cat sat", "too_short"),
      14L -> ((0 until 25).map(i => s"n$i").mkString(" "), "lang"), // no stopwords -> de
      15L -> ("the " + Seq.fill(19)(".").mkString(" "), "low_quality"),
      16L -> (Seq.fill(15)("the of").mkString(" "), "repetitive"),
      17L -> (corpusEn.replace("w5 ", "w5x "), "near_dup"),
      18L -> ("x1 alpha beta gamma x2", "contaminated"),
      97L -> ("the fresh benchmark doc of note", "benchmark"), // 97 % DecontamMod == 0
      12L -> (kept, "exact_dup"))                      // delta dup of 11 (batch 2)
    val mem = MemoryStream[Doc]
    val q = DocStream.curationStream(mem.toDF(), index, benchHashes)
      .writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      val batch1 = Seq(10L, 11L, 13L, 14L, 15L, 16L, 17L, 18L, 97L)
      mem.addData(batch1.zipWithIndex.map { case (id, i) =>
        Doc(ts(i), id, docs(id)._1) }: _*)
      q.processAllAvailable()
      mem.addData(Doc(ts(10), 12L, docs(12L)._1)) // cross-batch delta dup
      q.processAllAvailable()
      val out = spark.table("curation_stream")
        .select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      docs.foreach { case (id, (_, expect)) =>
        assert(out(id) == expect, s"doc $id: got ${out(id)}, want $expect")
      }
      // row-local rungs share the batch builders: spot-check quality
      // and repetition against the batch operators on the same texts
      val batchQ = Seq(15L -> docs(15L)._1, 16L -> docs(16L)._1)
        .toDF("doc_id", "text")
      val sig = batchQ.select(col("doc_id"),
        graft.operators.TextQueries.qualityCol(col("text"),
          TextFunctions.tokens(col("text"))).as("q"),
        graft.operators.TextQueries.dup2GramFrac(
          TextFunctions.tokens(col("text"))).as("d"))
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(sig(15L)._1 < 0.3, sig)
      assert(sig(16L)._1 >= 0.3 && sig(16L)._2 > 0.6, sig)
    } finally { q.stop(); index.release() }
  }
  test("streaming domain caps: a domain quiet past a non-default horizon gets a fresh budget") {
    implicit val ctx = spark.sqlContext
    import DocStream.UrlDoc
    val mem = MemoryStream[UrlDoc]
    val q = DocStream.domainCapAdmission(mem.toDS(), cap = 1, horizon = "10 minutes")
      .writeStream.format("memory").queryName("domain_caps_horizon")
      .outputMode("append").start()
    try {
      mem.addData(UrlDoc(ts(0), 1L, "a.example.com"))
      q.processAllAvailable()
      // moves the watermark to 09:20, more than 10 minutes past a's
      // newest event: a's counter times out in the next micro-batch
      mem.addData(UrlDoc(ts(30), 2L, "b.example.com"))
      q.processAllAvailable()
      mem.addData(UrlDoc(ts(31), 3L, "c.example.com"))
      q.processAllAvailable()
      mem.addData(UrlDoc(ts(32), 4L, "a.example.com"))
      q.processAllAvailable()
      val out = spark.table("domain_caps_horizon")
        .select("doc_id", "rnk", "kept").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(out(1L) == ((1L, true)), out)
      assert(out(4L) == ((1L, true)), s"a's budget must restart: $out")
    } finally q.stop()
  }

  // near-dup pairs that fail a higher rung: 16 vs 15 repetitions of
  // "the of" (repetitive) and 20 vs 19 dots after "the" (low_quality)
  // have different fingerprints and Hamming-0 SimHashes
  private val repText = Seq.fill(15)("the of").mkString(" ")
  private val repNear = Seq.fill(16)("the of").mkString(" ")
  private val lowText = "the " + Seq.fill(19)(".").mkString(" ")
  private val lowNear = "the " + Seq.fill(20)(".").mkString(" ")

  private def nearStatuses(index: graft.operators.TextQueries.DedupIndex,
                           docs: Seq[(Long, String)]): Map[Long, String] =
    graft.operators.TextQueries.deltaDedupAgainst(index, docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("streaming curation: an index near-dup that is also repetitive or low_quality keeps its higher rung") {
    implicit val ctx = spark.sqlContext
    val index = graft.operators.TextQueries.buildDedupIndex(
      Seq(1L -> repText, 2L -> lowText).toDF("doc_id", "text"))
    index.fp.count(); index.bands.count()
    // the index does hit both docs
    assert(nearStatuses(index, Seq(20L -> repNear, 21L -> lowNear)) ==
      Map(20L -> "near_dup_corpus", 21L -> "near_dup_corpus"))
    val mem = MemoryStream[Doc]
    val q = DocStream.curationStream(mem.toDF(), index, Seq(12345L))
      .writeStream.format("memory").queryName("curation_rungs_index")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 20L, repNear), Doc(ts(1), 21L, lowNear))
      q.processAllAvailable()
      val out = spark.table("curation_rungs_index")
        .select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(20L -> "repetitive", 21L -> "low_quality"), out)
    } finally { q.stop(); index.release() }
  }

  test("curationStream withinStream=true: a stream near-dup that is also repetitive or low_quality keeps its higher rung") {
    implicit val ctx = spark.sqlContext
    val index = graft.operators.TextQueries.buildDedupIndex(
      Seq(1L -> (0 until 50).map(i => s"cr$i").mkString(" ")).toDF("doc_id", "text"))
    index.fp.count(); index.bands.count()
    // the pairs do match under the band layout the cohort stage uses
    val pairIndex = graft.operators.TextQueries.buildDedupIndex(
      Seq(30L -> repText, 31L -> lowText).toDF("doc_id", "text"))
    assert(nearStatuses(pairIndex, Seq(32L -> repNear, 33L -> lowNear)) ==
      Map(32L -> "near_dup_corpus", 33L -> "near_dup_corpus"))
    pairIndex.release()
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val prior = spark.conf.get(checkKey, "true")
    val priorMulti = spark.conf.get(multiKey, "true")
    spark.conf.set(checkKey, "false")
    spark.conf.set(multiKey, "false")
    val mem = MemoryStream[Doc]
    val q = DocStream.curationStream(mem.toDF(), index, Seq(12345L),
        withinStream = true)
      .writeStream.format("memory").queryName("curation_rungs_within")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 30L, repText), Doc(ts(1), 31L, lowText))
      q.processAllAvailable()
      mem.addData(Doc(ts(2), 32L, repNear), Doc(ts(3), 33L, lowNear))
      q.processAllAvailable()
      val out = spark.table("curation_rungs_within")
        .select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(30L -> "repetitive", 31L -> "low_quality",
        32L -> "repetitive", 33L -> "low_quality"), out)
    } finally {
      q.stop(); index.release()
      spark.conf.set(checkKey, prior); spark.conf.set(multiKey, priorMulti)
    }
  }

  test("streaming curation state: one stateful operator, one row per corpus-unknown fingerprint") {
    implicit val ctx = spark.sqlContext
    val index = graft.operators.TextQueries.buildDedupIndex(
      Seq(1L -> base).toDF("doc_id", "text"))
    index.fp.count(); index.bands.count()
    val kept = "the " + (0 until 28).map(i => s"s$i").mkString(" ") + " of"
    val near = base.replace("tok7 ", "tok7x ")
    val mem = MemoryStream[Doc]
    val q = DocStream.curationStream(mem.toDF(), index, Seq(12345L))
      .writeStream.format("memory").queryName("curation_state")
      .outputMode("append").start()
    try {
      mem.addData(
        Doc(ts(0), 10L, base),     // corpus copy: no state
        Doc(ts(1), 11L, kept),
        Doc(ts(2), 13L, lowText),
        Doc(ts(3), 14L, near))     // index near-dup: still a new fingerprint
      q.processAllAvailable()
      mem.addData(Doc(ts(4), 12L, kept), Doc(ts(5), 15L, s" $base"))
      q.processAllAvailable()
      val out = spark.table("curation_state")
        .select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(10L -> "exact_dup", 11L -> "kept", 12L -> "exact_dup",
        13L -> "low_quality", 14L -> "lang", 15L -> "exact_dup"), out)
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1, s"expected the fingerprint machine only, got ${ops.length}")
      // kept, lowText and near: three corpus-unknown fingerprints
      assert(ops(0).numRowsTotal == 3)
    } finally { q.stop(); index.release() }
  }

  // ---- the index probe: one broadcast per index version -----------------

  private type Lookup = (Long, Option[Long], Option[Long])

  /** (doc_id, corpus_id, near_id) rows, sorted. */
  private def lookupRows(df: org.apache.spark.sql.DataFrame): Seq[Lookup] =
    df.select("doc_id", "corpus_id", "near_id").as[Lookup].collect().toSeq.sorted

  /** The probe's lookup equals the join reference row for row at every
    * `maxHamming` given; returns the probe's rows per `maxHamming`. */
  private def probeMatchesJoins(docs: org.apache.spark.sql.DataFrame,
                                index: TextQueries.DedupIndex,
                                hams: Seq[Int] = Seq(0, 6, 60)): Map[Int, Map[Long, Lookup]] =
    hams.map { h =>
      val probe = lookupRows(DocStream.probed(docs, index, h))
      val ref = lookupRows(ProbeJoinReference.enrich(docs, index, h))
      assert(probe == ref, s"maxHamming $h: probe=$probe\nref=$ref")
      h -> probe.map(r => r._1 -> r).toMap
    }.toMap

  /** A band table over `(doc_id, sim)` representatives, laid out as
    * `buildDedupIndex` lays out its own. */
  private def bandsOf(reps: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = reps.toDF("doc_id", "sim")
    (0 until TextQueries.SimBands).map(b => df.select(col("doc_id"), col("sim"),
        lit(b).as("b"), TextQueries.simBandKey(col("sim"), b).as("key")))
      .reduce(_ union _)
  }

  /** `sim` with the given bit positions flipped. */
  private def flip(sim: Long, bits: Seq[Int]): Long =
    bits.foldLeft(sim)((s, i) => s ^ (1L << i))

  test("index probe matches the join formulation: hot bucket, split band minima, empty/null text, exact-and-near, maxHamming 0/6/60") {
    val rng = new scala.util.Random(7)
    def words(n: Int, p: String) = (0 until n).map(i => s"$p${rng.nextInt(500)}w$i").mkString(" ")
    val corpusText = words(60, "c")
    val docs = ((0 until 20).map(i => i.toLong -> words(40 + i, s"d$i")) ++
      Seq(100L -> "", 102L -> corpusText)).toDF("doc_id", "text")
      .union(Seq(101L).toDF("doc_id").selectExpr("doc_id", "CAST(NULL AS STRING) AS text"))
    val sims = TextQueries.simhashDf(docs).as[(Long, Long)].collect().toMap
    val allOnes = (1L << 60) - 1
    assert(sims(100L) == allOnes && sims(101L) == allOnes)
    val corpusSim = TextQueries.simhashDf(Seq(5L -> corpusText).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().head._2
    assert(sims(102L) == corpusSim)
    // bit positions of band b, and of every band but b
    def inBand(b: Int) = (b * TextQueries.SimBandBits until (b + 1) * TextQueries.SimBandBits)
    def outside(b: Int) = (0 until 60).filterNot(inBand(b).contains)
    val reps = scala.collection.mutable.ArrayBuffer(5L -> corpusSim)
    var nextId = 1000L
    def rep(sim: Long): Unit = { reps += nextId -> sim; nextId += 1 }
    // random cohorts: candidates sharing one band of a doc, 1-12 bits off
    for (d <- 0 until 20; b <- 0 until 4; _ <- 0 until 6)
      rep(flip(sims(d.toLong), rng.shuffle(outside(b)).take(1 + rng.nextInt(12))))
    // a hot bucket: 1,500 candidates in doc 0's band-0 bucket, 7+ bits off
    for (_ <- 0 until 1500)
      rep(flip(sims(0L), rng.shuffle(outside(0)).take(7 + rng.nextInt(20))))
    // doc 1: each band's min is a different id — 900 at Hamming 4 in
    // bands 0/3, 400 at Hamming 3 in bands 1-3, 100 at Hamming 8 in 1-3
    reps += 900L -> flip(sims(1L), inBand(1).take(2) ++ inBand(2).take(2))
    reps += 400L -> flip(sims(1L), inBand(0).take(3))
    reps += 100L -> flip(sims(1L), inBand(0).take(8))
    // the all-ones fallback of empty and null text has neighbours too
    reps += 77L -> flip(allOnes, Seq(3, 40))
    val fp = Seq(5L -> corpusText, 6L -> "").toDF("doc_id", "text")
      .select(TextFunctions.fingerprint(org.apache.spark.sql.functions.col("text")).as("fp"),
        org.apache.spark.sql.functions.col("doc_id").as("corpus_id"))
    val index = TextQueries.DedupIndex(fp, bandsOf(reps.toSeq))
    try {
      val hot = reps.count { case (_, s) =>
        ((s ^ sims(0L)) & ((1L << TextQueries.SimBandBits) - 1)) == 0 }
      assert(hot > 1000, s"hot bucket holds $hot")
      val byHam = probeMatchesJoins(docs, index)
      assert(byHam(6)(1L)._3.contains(400L), byHam(6)(1L))
      assert(byHam(60)(1L)._3.contains(100L), byHam(60)(1L))
      assert(byHam(0)(1L)._3.isEmpty, byHam(0)(1L))
      assert(byHam(6)(100L) == ((100L, Some(6L), Some(77L))), byHam(6)(100L))
      assert(byHam(6)(101L) == ((101L, None, Some(77L))), byHam(6)(101L))
      assert(byHam(0)(102L) == ((102L, Some(5L), Some(5L))), byHam(0)(102L))
      assert(byHam(6).values.count(_._3.nonEmpty) > 10, byHam(6))
    } finally index.release()
  }

  test("index probe matches the join formulation on an absorbDelta'd index (band keys repeat across versions)") {
    val texts = (0 until 30).map(i => (0 until 60).map(k => s"a${i}t$k").mkString(" "))
    val corpus = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toDF("doc_id", "text")
    val idx0 = TextQueries.buildDedupIndex(corpus)
    val delta = texts.take(15).zipWithIndex.map { case (t, i) =>
      (100L + i) -> t.replace(s"a${i}t7 ", s"a${i}mut ") }.toDF("doc_id", "text")
    val idx1 = TextQueries.absorbDelta(idx0, delta)
    try {
      val keys = idx1.bands.groupBy("b", "key").count()
        .filter(org.apache.spark.sql.functions.col("count") > 1).count()
      assert(keys > 0, "expected band buckets shared by corpus and delta reps")
      val probes = (texts.take(20).zipWithIndex.map { case (t, i) =>
        (200L + i) -> t.replace(s"a${i}t9 ", s"a${i}x ") } ++
        Seq(300L -> texts(3), 301L -> delta.as[(Long, String)].collect()(4)._2))
        .toDF("doc_id", "text")
      val byHam = probeMatchesJoins(probes, idx1)
      assert(byHam(6).values.count(_._3.nonEmpty) > 10, byHam(6))
      assert(byHam(6)(301L)._2.contains(104L), byHam(6)(301L))
    } finally { idx1.release(); idx0.release() }
  }

  test("probe bound: refused past the limit with a named error naming counts, estimate and setting") {
    import TextQueries.{ProbeBandRowBytes, ProbeFpRowBytes, ProbeTooLargeException, checkProbeBound}
    val need = 100 * ProbeFpRowBytes + 400 * ProbeBandRowBytes
    checkProbeBound(100, 400, need, "spark.driver.maxResultSize")
    checkProbeBound(100, 400, 0, "spark.driver.maxResultSize") // 0 = no bound
    val e = intercept[ProbeTooLargeException](
      checkProbeBound(100, 400, need - 1, "spark.driver.maxResultSize"))
    assert(e.isInstanceOf[IllegalStateException])
    for (part <- Seq("100 fp rows", "400 band rows", s"~$need bytes",
      s"spark.driver.maxResultSize = ${need - 1} bytes"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  private def executedPlan(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan

  /** No broadcast exchange, broadcast join or cached scan in the plan. */
  private def assertNoIndexJoin(plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val banned = plan.collectWithSubqueries {
      case p: BroadcastExchangeExec => p.nodeName
      case p: BroadcastHashJoinExec => p.nodeName
      case p: InMemoryTableScanExec => p.nodeName
    }
    assert(banned.isEmpty, s"$banned in\n${plan.treeString}")
  }

  test("default deltaDedupStream: one Spark job per micro-batch after the first, no index join in its plan") {
    implicit val ctx = spark.sqlContext
    val index = TextQueries.buildDedupIndex(
      Seq(1L -> base, 2L -> (0 until 50).map(i => s"c$i").mkString(" ")).toDF("doc_id", "text"))
    index.fp.count(); index.bands.count()
    val mem = MemoryStream[Doc]
    val q = DocStream.deltaDedupStream(mem.toDF(), index)
      .writeStream.format("memory").queryName("delta_jobs")
      .outputMode("append").start()
    try {
      val (_, starts) = jobStartsDuring(for (b <- 0 until 4) {
        mem.addData(Doc(ts(b), 10L + 2 * b, s"$base b$b"),
          Doc(ts(b), 11L + 2 * b, (0 until 40).map(i => s"n${b}x$i").mkString(" ")))
        q.processAllAvailable()
      })
      // job counts per micro-batch id of this query's job group
      val byBatch = starts.map(_.properties)
        .filter(p => p != null && p.getProperty("spark.jobGroup.id") == q.runId.toString)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .groupBy(_.toLong).view.mapValues(_.size).toMap
      val first = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).min
      val later = byBatch.filter(_._1 > first)
      assert(later.size >= 3, byBatch)
      assert(later.values.forall(_ == 1), s"jobs per batch id: $byBatch")
      assertNoIndexJoin(executedPlan(q))
    } finally { q.stop(); index.release() }
  }

  test("default curationStream: no index join in its plan") {
    implicit val ctx = spark.sqlContext
    val index = TextQueries.buildDedupIndex(Seq(1L -> base).toDF("doc_id", "text"))
    val mem = MemoryStream[Doc]
    val q = DocStream.curationStream(mem.toDF(), index, Seq(12345L))
      .writeStream.format("memory").queryName("curation_plan")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 10L, base), Doc(ts(1), 11L, base.replace("tok7 ", "tok7x ")))
      q.processAllAvailable()
      assert(spark.table("curation_plan").count() == 2)
      assertNoIndexJoin(executedPlan(q))
    } finally { q.stop(); index.release() }
  }

  test("index.release() destroys the probe's broadcast and leaves no cached plan derived from the index") {
    implicit val ctx = spark.sqlContext
    // numCachedEntries is sql-private in Scala, public in bytecode
    val cache = spark.sharedState.cacheManager
    def cached = cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val before = cached
    val index = TextQueries.buildDedupIndex(Seq(1L -> base).toDF("doc_id", "text"))
    val mem = MemoryStream[Doc]
    val q = DocStream.deltaDedupStream(mem.toDF(), index)
      .writeStream.format("memory").queryName("delta_release")
      .outputMode("append").start()
    try {
      mem.addData(Doc(ts(0), 10L, base))
      q.processAllAvailable()
    } finally q.stop()
    val probe = index.probe
    assert(probe.value.fpRows == 1 && probe.value.bandRows == 4)
    index.release()
    val e = intercept[org.apache.spark.SparkException](probe.value)
    assert(e.getMessage.contains("destroyed"), e.getMessage)
    assert(index.fp.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(index.bands.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(cached <= before, s"${cached - before} cached plans left behind")
  }

  test("deltaDedupStream recovers from a checkpoint: probe rebuilt from the index, state round-trips, only the unseen suffix is emitted") {
    implicit val ctx = spark.sqlContext
    val near = base.replace("tok7 ", "tok7x ")
    val fresh = (0 until 60).map(i => s"rs$i").mkString(" ")
    val corpus = Seq(1L -> base, 2L -> (0 until 50).map(i => s"c$i").mkString(" "))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("ckpt_delta").toString
    val mem = MemoryStream[Doc]
    def start(index: TextQueries.DedupIndex) = DocStream.deltaDedupStream(mem.toDF(), index)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$root/checkpoint").option("path", s"$root/out")
      .outputMode("append").start()
    val index1 = TextQueries.buildDedupIndex(corpus)
    val q1 = start(index1)
    try {
      mem.addData(Doc(ts(0), 10L, base), Doc(ts(1), 11L, fresh))
      q1.processAllAvailable()
    } finally { q1.stop(); index1.release() }
    // a restarted process rebuilds its index, hence a new probe; doc 12
    // is a copy of 11, known only through the recovered state
    mem.addData(Doc(ts(2), 12L, fresh), Doc(ts(3), 13L, near))
    val index2 = TextQueries.buildDedupIndex(corpus)
    val q2 = start(index2)
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$root/out")
        .select("doc_id", "status", "dup_of").as[(Long, String, Option[Long])]
        .collect().toSeq.sortBy(_._1)
      assert(out == Seq((10L, "exact_dup_corpus", Some(1L)), (11L, "new", None),
        (12L, "exact_dup_delta", Some(11L)), (13L, "near_dup_corpus", Some(1L))), out)
      val batch = TextQueries.deltaDedupAgainst(index2,
        Seq(10L -> base, 11L -> fresh, 12L -> fresh, 13L -> near).toDF("doc_id", "text"))
        .select("doc_id", "status", "dup_of").as[(Long, String, Option[Long])]
        .collect().toSeq.sortBy(_._1)
      assert(out == batch, s"batch=$batch stream=$out")
    } finally { q2.stop(); index2.release() }
  }
}

object DocStreamSpec {
  /** Top-level so spark.implicits can derive its Encoder. */
  final case class SDoc(doc_id: Long, text: String, source: String,
                        lang: String)
}
