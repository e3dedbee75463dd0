package graft.streaming

import graft.functions.TextFunctions
import graft.operators.TextQueries
import graft.operators.TextQueries.{SimBandBits, SimBands, simBandKey}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming deduplication over an unbounded document feed — the
  * incremental forms of the batch dedup family (x01 exact, x11
  * fingerprint, x12/x13 SimHash near-dup). Beyond-reference,
  * non-gating (SURVEY §2.9b): the batch analogs are the gated surface;
  * these apply the same column logic to `readStream` sources.
  */
object DocStream {

  final case class Doc(ts: java.sql.Timestamp, doc_id: Long, text: String)
  final case class NearDup(doc_id: Long, dup_of: Long, ham: Int)

  /** Exact streaming dedup: first occurrence of a normalized
    * fingerprint wins; duplicates arriving within the watermark horizon
    * are dropped and state is evicted past it (bounded — the streaming
    * requirement the batch x01 groupBy doesn't have). */
  def exactDedup(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(Seq("fp"))

  /** Streaming corpus statistics — the LIVE form of the x55 dataset
    * card: running per-(source, lang) document/token/char totals over
    * an unbounded ingest feed, emitted in update mode so a mixture
    * dashboard sees every source's share move as crawl batches land
    * (the monitoring loop behind per-domain caps and mixture weights —
    * x38/x43 decide, this watches). Stateful aggregation WITHOUT a
    * watermark is deliberate and safe here: the state key space is the
    * (source, lang) label product — bounded by the corpus's provenance
    * vocabulary, not the stream length — so state is one small row per
    * label pair forever, the same bounded-by-construction argument as
    * [[graft.streaming.EventStream.kmvSketch]]. Works identically on
    * batch frames (same agg, no state). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("sum_chars"))

  /** Streaming chunk-level (span) dedup — the incremental form of the
    * batch x35 operator, sharing its [[TextFunctions.wordChunks]]
    * grain: each document explodes into 20-token chunks; the FIRST
    * occurrence of a chunk within the watermark horizon survives,
    * later copies (license headers, boilerplate spans — including ones
    * inside otherwise-novel documents) are dropped. Output is the
    * surviving (doc_id, idx, chunk) rows; the consumer reassembles
    * per-doc text downstream (a second stateful per-doc aggregation
    * would force its own completeness horizon — the row form keeps
    * this operator single-state and append-mode).
    *
    * State: one row per DISTINCT chunk md5 inside the horizon,
    * evicted by the watermark — bounded by stream rate x horizon, not
    * stream length. */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 20,
                 horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("ts"), col("doc_id"),
        posexplode(TextFunctions.wordChunks(col("toks"), chunkTokens))
          .as(Seq("idx", "chunk")))
      .withColumn("ch", md5(col("chunk")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(Seq("ch"))
      .select("ts", "doc_id", "idx", "chunk")

  final case class UrlDoc(ts: java.sql.Timestamp, doc_id: Long,
                          domain: String)
  final case class Admission(doc_id: Long, domain: String, rnk: Long,
                             kept: Boolean)

  /** Streaming per-domain admission caps — the incremental form of the
    * batch x38 operator: a crawl feed keyed by (already-canonicalized)
    * domain admits at most `cap` documents per domain; later arrivals
    * are emitted with `kept = false` (flag-don't-drop, so downstream
    * ledgers stay complete — the x38 output shape). Arrival order
    * within a micro-batch is made deterministic by (ts, doc_id).
    *
    * State: ONE counter per domain seen within the watermark horizon.
    * A domain quiet for `horizon` past the watermark times out and its
    * counter is removed (event-time timeout) — so the budget is
    * per-domain-per-active-period and state is bounded by active
    * domains × horizon, not by stream length or total domain count.
    * Domains are the shard key, exactly like the batch window. */
  def domainCapAdmission(docs: Dataset[UrlDoc], cap: Long = 10,
                         horizon: String = "1 hour"): Dataset[Admission] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = delayMs(horizon)
    docs
      .withWatermark("ts", horizon)
      .groupByKey(_.domain)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (domain: String, rows: Iterator[UrlDoc],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var n = state.getOption.getOrElse(0L)
            val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            val out = batch.map { r =>
              n += 1
              Admission(r.doc_id, domain, n, n <= cap)
            }
            state.update(n)
            // evict the counter once the domain is quiet a full
            // horizon past its newest event (must exceed the current
            // watermark for EventTimeTimeout)
            val newest = batch.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(newest, state.getCurrentWatermarkMs()) + horizonMs)
            out.iterator
          }
      }
  }

  /** One bucket id per SimHash band of `sim` — `(b << bits) | key`, so
    * equal keys of different bands never share a bucket. */
  private def bandBuckets(sim: Column): Column =
    array((0 until SimBands).map(b =>
      lit(b.toLong << SimBandBits) bitwiseOR simBandKey(sim, b)): _*)

  /** A watermark horizon in ms, parsed the way `withWatermark` parses
    * its delay, so state timeouts run on the watermark's own clock. */
  private def delayMs(horizon: String): Long =
    EventTimeWatermark.getDelayMs(IntervalUtils.fromIntervalString(horizon))

  /** Streaming SimHash near-dup flagging: each document's 60-bit
    * SimHash is split into the x13 band layout
    * ([[TextQueries.SimBands]] bands of [[TextQueries.SimBandBits]]
    * bits); per band-bucket state remembers the last `perBucket`
    * (doc_id, sim) pairs, and an arriving document is Hamming-checked
    * ONLY against its bucket cohort — never the whole history. A pair
    * agreeing in several bands is emitted once per agreeing band
    * (consumers `dropDuplicates("doc_id","dup_of")` per sink epoch if
    * exact-once flags matter). State per key is a bounded FIFO, so
    * memory is O(buckets × perBucket) regardless of stream length. */
  def nearDupFlags(docs: Dataset[Doc], maxHamming: Int = 6,
                   perBucket: Int = 1024): Dataset[NearDup] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("sim", TextFunctions.simhash60("text"))
      .select(col("doc_id"), col("sim"),
        explode(bandBuckets(col("sim"))).as("bucket"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[List[(Long, Long)]]) =>
          var cohort = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDup]
          // deterministic intra-batch order
          rows.toSeq.sortBy(_._1).foreach { case (id, sim, _) =>
            cohort.foreach { case (oid, osim) =>
              if (oid != id) {
                val ham = java.lang.Long.bitCount(sim ^ osim)
                if (ham <= maxHamming) out += NearDup(id, oid, ham)
              }
            }
            cohort = ((id, sim) :: cohort).take(perBucket)
          }
          state.update(cohort)
          out.iterator
      }
  }

  final case class DeltaStatus(ts: java.sql.Timestamp, doc_id: Long,
                               status: String, dup_of: Option[Long])

  /** The fingerprint machine's verdict on one document: its x42
    * `status`/`dup_of`, beside the caller's row-local `row_status`. */
  private[streaming] final case class Verdict(ts: java.sql.Timestamp,
      doc_id: Long, status: String, dup_of: Option[Long], row_status: String)

  /** One document entering the fingerprint machine: (ts, doc_id, fp,
    * corpus_id, near_id, row_status, near_delta). */
  private type FpRow = (java.sql.Timestamp, Long, String, Option[Long],
    Option[Long], String, Option[Long])

  /** Streaming delta dedup — the incremental twin of the batch x42
    * ([[graft.operators.TextQueries.deltaDedup]]): an unbounded ingest
    * feed is deduplicated against a standing
    * [[graft.operators.TextQueries.DedupIndex]] (built once, refreshed
    * between [[graft.operators.TextQueries.absorbDelta]] batches) and
    * within itself, emitting the x42 status precedence
    * (`exact_dup_corpus` > `exact_dup_delta` > `near_dup_corpus` >
    * `new`) per document in APPEND mode. It is the shared dedup core
    * ([[dedupStates]], also under [[curationStream]]) projected to
    * [[DeltaStatus]].
    *
    * Corpus lookups: ONE row-local probe of the index
    * ([[TextQueries.DedupProbe]]) — the fp → survivor map and every
    * band bucket's candidates sorted by `doc_id`, collected and
    * broadcast once per index version when this operator is called,
    * then read by every micro-batch as-is — so the corpus contributes
    * no stream state, no join and no per-batch broadcast. Each doc
    * stays ONE row: `near_id` is the min Hamming-matching candidate
    * over its four buckets, each scan stopping at its first match
    * (bucket cohorts are |distinct sims|·4 / 2^15 rows on average —
    * hundreds at 12M docs). The probe's memory bound and its refusal
    * past `spark.driver.maxResultSize` are documented on
    * [[TextQueries.DedupIndex]]; release the index after stopping the
    * query.
    *
    * Stream state: the within-delta fingerprint machine, one `(fp →
    * survivor doc_id)` row per corpus-unknown fingerprint active within
    * the watermark horizon, evicted by event-time timeout. A
    * corpus-known fingerprint never touches state: its copies are
    * `exact_dup_corpus` by precedence, exactly as the batch operator
    * resolves them.
    *
    * CONTRACT: the stored survivor folds to `min(stored, incoming
    * doc_id)` — the `min(doc_id)` election the batch
    * `deltaDedupAgainst` computes over the whole delta — so every
    * status row emitted AFTER a duplicate's arrival equals the batch
    * row under ANY arrival order, not just monotone ids (DocStreamSpec
    * pins an inversion case). The one structural divergence: when a
    * LOWER id arrives after its duplicate was already emitted as the
    * stream survivor, that pair's own two rows swap roles (the lower id
    * is emitted `exact_dup_delta` pointing at the prior survivor, whose
    * `new` row cannot be retracted in append mode).
    *
    * `withinStream = true` also flags a NEAR-dup pair arriving in the
    * same stream with no index hit, which the default passes un-flagged
    * until an `absorbDelta` index refresh. A band-cohort stage keyed by
    * band bucket runs before the fingerprint machine: it holds the
    * within-horizon cohort of `(event-ms, doc_id, sim)` per bucket
    * (entries prune once `ts + horizon < watermark`, idle buckets time
    * out wholesale, `perBucket` caps adversarial bucket skew) and
    * emits each doc's per-band match; the fingerprint machine merges
    * the per-band rows row-locally and emits `near_dup_delta`
    * (precedence after `near_dup_corpus`) pointing at the min matching
    * within-horizon doc_id. The batch x42 operator has no within-delta
    * near-dup status, so `withinStream` defaults false to keep exact
    * stream/batch parity. The cohort shares the fingerprint contract's
    * residue: a near-dup pair arriving id-INVERTED swaps roles (the
    * later, smaller id is `near_dup_delta` pointing at the larger
    * survivor), and later arrivals still fold to the MIN matching
    * cohort id (DocStreamSpec pins both).
    *
    * `withinStream = true` requires
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`:
    * Spark's checker conservatively rejects ANY stateful operator
    * downstream of a flatMapGroupsWithState because fMGWS *could*
    * delay emission past the watermark (session-window style). The
    * band stage cannot: it emits every row in the same micro-batch it
    * arrives (state only augments the row with its cohort match), so
    * its output's event times are the arrival times — already
    * watermark-filtered at the source — and the fingerprint machine
    * never sees a late row. The checker has no way to know that, hence
    * the documented escape hatch. */
  def deltaDedupStream(docs: DataFrame,
                       index: TextQueries.DedupIndex,
                       maxHamming: Int = 6, horizon: String = "1 hour",
                       withinStream: Boolean = false,
                       perBucket: Int = 1024): Dataset[DeltaStatus] = {
    import docs.sparkSession.implicits._
    dedupStates(docs, index, lit("kept"), maxHamming, horizon,
      withinStream, perBucket)
      .drop("row_status").as[DeltaStatus]
  }

  /** The dedup core of [[deltaDedupStream]] and [[curationStream]]
    * (stages documented on the former): the row-local corpus lookup
    * ([[probed]]), the optional band-cohort stage, then the
    * fingerprint machine. `rowStatus` is evaluated over the enriched
    * row (the input columns plus `fp`/`sim`) before any state and
    * rides through unchanged. */
  private def dedupStates(docs: DataFrame, index: TextQueries.DedupIndex,
                          rowStatus: Column, maxHamming: Int,
                          horizon: String, withinStream: Boolean,
                          perBucket: Int): Dataset[Verdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = delayMs(horizon)
    val selected = probed(docs, index, maxHamming)
      .select(col("ts"), col("doc_id"), col("fp"), col("corpus_id"),
        col("near_id"), rowStatus.as("row_status"), col("sim"))

    // one row per doc, near_delta null — the projection stays
    // column-level: a typed map here would strip the event-time
    // watermark the stateful stage requires
    val perDoc: Dataset[FpRow] =
      if (!withinStream)
        selected
          .select(col("ts"), col("doc_id"), col("fp"), col("corpus_id"),
            col("near_id"), col("row_status"),
            lit(null).cast("long").as("near_delta"))
          .withWatermark("ts", horizon)
          .as[FpRow]
      else
        // the band-cohort stage: one row per (doc, band) out, carrying
        // that band's within-horizon cohort match (min doc_id at
        // Hamming <= max) as near_delta; its typed output re-tags the
        // watermark on the event-time column (same delay, so the
        // query's combined watermark is unchanged)
        selected
          .withWatermark("ts", horizon)
          .select(explode(bandBuckets(col("sim"))).as("bucket"), col("ts"),
            col("doc_id"), col("fp"), col("corpus_id"), col("near_id"),
            col("row_status"), col("sim"))
          .as[(Long, java.sql.Timestamp, Long, String, Option[Long],
            Option[Long], String, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            OutputMode.Append(),
            GroupStateTimeout.EventTimeTimeout()) {
            (_: Long,
             rows: Iterator[(Long, java.sql.Timestamp, Long, String,
               Option[Long], Option[Long], String, Long)],
             state: GroupState[List[(Long, Long, Long)]]) =>
              if (state.hasTimedOut) {
                state.remove()
                Iterator.empty
              } else {
                val wm = state.getCurrentWatermarkMs()
                // cohort entries are (event-ms, doc_id, sim); an entry
                // can only flag arrivals (whose ts >= wm) within horizon
                // of itself, so it prunes once ts + horizon < watermark —
                // state per bucket is rate x horizon, capped at perBucket
                var cohort = state.getOption.getOrElse(Nil)
                  .filter(_._1 + horizonMs >= wm)
                val batch = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
                val out = batch.map { case (_, ts, id, fp, c, n, rs, sim) =>
                  val tsMs = ts.getTime
                  val nd = cohort.iterator
                    .filter { case (ets, eid, esim) =>
                      eid != id && ets + horizonMs >= tsMs &&
                        java.lang.Long.bitCount(esim ^ sim) <= maxHamming
                    }
                    .map(_._2)
                    .foldLeft(Option.empty[Long]) { (acc, v) =>
                      Some(acc.fold(v)(math.min(_, v))) }
                  cohort = ((tsMs, id, sim) :: cohort).take(perBucket)
                  (ts, id, fp, c, n, rs, nd)
                }
                state.update(cohort)
                val newest = batch.map(_._2.getTime).max
                state.setTimeoutTimestamp(math.max(newest, wm) + horizonMs)
                out.iterator
              }
          }
          .withWatermark("_1", horizon)

    perDoc
      .groupByKey(_._3)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[FpRow], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var minSeen = state.getOption
            // withinStream feeds one row per band per doc into the SAME
            // fp group in the SAME micro-batch — merge them row-locally,
            // min matching candidate across bands wins (the default
            // path's single row per doc merges to itself)
            val batch = rows.toSeq
              .groupBy(r => (r._1.getTime, r._2))
              .map { case (_, rs) =>
                val h = rs.head
                (h._1, h._2, h._4, h._5, h._6, rs.flatMap(_._7).sorted.headOption)
              }
              .toSeq.sortBy(r => (r._1.getTime, r._2))
            val out = batch.map {
              case (ts, id, corpusId, nearId, rowStatus, nearDelta) =>
                def verdict(status: String, dupOf: Option[Long]) =
                  Verdict(ts, id, status, dupOf, rowStatus)
                if (corpusId.nonEmpty) verdict("exact_dup_corpus", corpusId)
                else if (minSeen.nonEmpty) {
                  // point at the standing survivor, then fold the
                  // election to min(stored, incoming) so later copies
                  // point at the batch-elected min under any order
                  val prior = minSeen
                  minSeen = Some(math.min(minSeen.get, id))
                  verdict("exact_dup_delta", prior)
                } else {
                  minSeen = Some(id)
                  if (nearId.nonEmpty) verdict("near_dup_corpus", nearId)
                  else if (nearDelta.nonEmpty) verdict("near_dup_delta", nearDelta)
                  else verdict("new", None)
                }
            }
            // only corpus-unknown fingerprints carry state
            if (minSeen.nonEmpty) {
              state.update(minSeen.get)
              val newest = batch.map(_._1.getTime).max
              state.setTimeoutTimestamp(
                math.max(newest, state.getCurrentWatermarkMs()) + horizonMs)
            }
            out.iterator
          }
      }
  }

  /** `docs` plus each doc's `fp`, `sim` (all-ones when the text has
    * no tokens) and the index's answers for them: `corpus_id`, the
    * corpus survivor of `fp`, and `near_id`, the smallest indexed
    * `doc_id` within `maxHamming` of `sim` in any shared band bucket.
    * Both come from the index's broadcast [[TextQueries.DedupProbe]]
    * in one row-local lookup, so a stream pays no join, no broadcast
    * exchange and no cached scan per micro-batch; the probe is built
    * here on first use of `index`. */
  private[streaming] def probed(docs: DataFrame, index: TextQueries.DedupIndex,
                                maxHamming: Int): DataFrame = {
    val probe = index.probe
    val corpusId = udf((fp: String) => probe.value.corpusId(fp))
    val nearId = udf((sim: Long) => probe.value.nearId(sim, maxHamming))
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("sim",
        coalesce(TextFunctions.simhash60("text"), lit((1L << 60) - 1)))
      .withColumn("corpus_id", corpusId(col("fp")))
      .withColumn("near_id", nearId(col("sim")))
  }

  final case class CurationStatus(ts: java.sql.Timestamp, doc_id: Long,
                                  status: String)

  /** Streaming curation — the x30 status-precedence chain over an
    * unbounded ingest feed, deduplicated against a standing
    * [[graft.operators.TextQueries.DedupIndex]] and within itself.
    * Emits ONE status per document in append mode, precedence matching
    * the batch chain (`exact_dup` > `benchmark` > `contaminated` >
    * `too_short` > `lang` > `low_quality` > `repetitive` > `near_dup`
    * > `kept`).
    *
    * It is the dedup core under [[deltaDedupStream]] (same probe,
    * same stream state, same eviction bound, same `withinStream` band
    * cohorts and checker escape hatch — documented there) fed the
    * row-local rungs as one status column, then one row-local mapping:
    * an `exact_dup_*` verdict is `exact_dup`; otherwise a fired
    * row-local rung wins; otherwise a `near_dup_*` verdict (an index
    * hit, or with `withinStream` a within-horizon stream hit) is
    * `near_dup`; otherwise `kept`. Without `withinStream`, a
    * within-stream near-dup pair with no index hit passes un-flagged
    * until an index refresh.
    *
    * Every rung shares its COLUMN DEFINITION with the batch pipeline,
    * so the two cannot drift:
    *  - exact_dup: fingerprint known to the corpus index, or seen
    *    earlier in the stream;
    *  - benchmark: the x30 `doc_id % DecontamMod` membership rule;
    *  - contaminated: the doc's distinct hashed shingles
    *    ([[TextFunctions.hashedShingles]] mod=0 — x26's exact domain)
    *    overlap the STANDING benchmark shingle set, passed as a
    *    bounded literal (eval suites are small by nature; at larger
    *    bench scale swap in the x31 Bloom + a verify join downstream);
    *  - too_short/lang/low_quality/repetitive: the batch builders
    *    verbatim ([[graft.operators.TextQueries.predLang]]/
    *    `qualityCol`/`dup2GramFrac`) — all row-local, stream-safe;
    *  - near_dup: banded-SimHash hit against the index's probe.
    * The one signal with NO incremental form is x30's boilerplate
    * branch — its corpus document-frequency is a batch aggregate by
    * definition; refresh it with the index between batches. */
  def curationStream(docs: DataFrame,
                     index: TextQueries.DedupIndex,
                     benchHashes: Seq[Long],
                     minTokens: Long = 20, langs: Seq[String] = Seq("en"),
                     minQuality: Double = 0.3, maxDupFrac: Double = 0.6,
                     maxHamming: Int = 6, horizon: String = "1 hour",
                     withinStream: Boolean = false,
                     perBucket: Int = 1024): Dataset[CurationStatus] = {
    import docs.sparkSession.implicits._
    val rowStatus =
      when(col("doc_id") % TextQueries.DecontamMod === 0, "benchmark")
        .when(arrays_overlap(
          TextFunctions.hashedShingles(col("toks"), 3, 0L),
          typedLit(benchHashes)), "contaminated")
        .when(size(col("toks")).cast("long") < minTokens, "too_short")
        .when(not(TextQueries.predLang(col("toks")).isInCollection(langs)),
          "lang")
        .when(TextQueries.qualityCol(col("text"), col("toks")) < minQuality,
          "low_quality")
        .when(TextQueries.dup2GramFrac(col("toks")) > maxDupFrac,
          "repetitive")
        .otherwise("kept")
    dedupStates(docs.withColumn("toks", TextFunctions.tokens(col("text"))),
        index, rowStatus, maxHamming, horizon, withinStream, perBucket)
      .select(col("ts"), col("doc_id"),
        when(col("status").startsWith("exact_dup"), "exact_dup")
          .when(col("row_status") =!= "kept", col("row_status"))
          .when(col("status").startsWith("near_dup"), "near_dup")
          .otherwise("kept").as("status"))
      .as[CurationStatus]
  }

  /** Streaming quality-classifier scoring — model serving for the
    * batch-trained x45 model ([[graft.ml.QualityClassifier]]): score
    * an unbounded document feed and flag admission at `threshold`.
    *
    * The batch scorer's shape (bucket explode → broadcast weight join
    * → per-doc groupBy dot) would be a stateful aggregation in a
    * stream; this uses the algebraic identity
    * Σ_b w_b·(c_b/n) = (Σ_t w_{bucket(t)})/n to fold the dot
    * ROW-LOCALLY over the token array (`transform` + `aggregate`
    * HOFs over a single array-literal weight vector), so scoring is a
    * stateless, shuffle-free projection — append-mode safe, no
    * watermark, no state store, executor memory = one `buckets`-sized
    * broadcast literal. Matches the batch scorer to float-sum
    * reordering (exact same doubles, different addition order). */
  def qualityScore(docs: DataFrame, m: graft.ml.QualityClassifier.Model,
                   threshold: Double = 0.5): DataFrame = {
    val wlit = typedlit(m.weights.toSeq)
    val toks = TextFunctions.tokens(col("text"))
    val dot = when(size(col("toks")) > 0,
      aggregate(
        transform(col("toks"), t =>
          element_at(wlit,
            (TextFunctions.hash60(t) % m.buckets).cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x) / size(col("toks")))
      .otherwise(lit(0.0))
    docs
      .withColumn("toks", toks)
      .withColumn("quality_prob",
        lit(1.0) / (lit(1.0) + exp(-(dot + lit(m.bias)))))
      .select(col("ts"), col("doc_id"), col("quality_prob"),
        (col("quality_prob") >= threshold).as("kept"))
  }
}
