package graft.operators

import graft.core.Tables
import graft.functions.TextFunctions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Training-data-pipeline text operators over the `documents` table
  * (beyond-reference extension surface; BASELINE.md north star).
  *
  * Every query here is oracle-gated: the Spark plan and the DuckDB SQL
  * compute the same deterministic integers/doubles (shared md5-based
  * hash primitive, explicit double casts, ROUND(_,6), total ORDER BY).
  */
object TextQueries {

  /** Unpersist `cached` as soon as the first completed action that
    * consumed it finishes. Composed pipelines (x13/x19/x30) persist a
    * shared subtree (tokenization, fingerprints) purely as an
    * intra-query sharing device; without release, every invocation in
    * a long-lived session leaks ~2x corpus of MEMORY_AND_DISK cache
    * until someone calls `spark.catalog.clearCache()`. The listener
    * matches on the cached subtree appearing in a completed query's
    * analyzed plan, fires once, and unregisters itself. If the caller
    * re-materializes the returned frame later it simply recomputes
    * (correct, just unshared) — gate/bench/service usage all
    * materialize exactly once. Release is asynchronous (the listener
    * bus), so tests poll rather than assert immediately. A frame that
    * is declared but never materialized keeps its (data-free)
    * cacheManager registration — persist() registers eagerly — but
    * holds no blocks. */
  private[operators] def unpersistAfterFirstUse(result: DataFrame,
                                                cached: DataFrame): DataFrame = {
    val session = result.sparkSession
    val target = cached.queryExecution.analyzed
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
      private def maybeRelease(qe: QueryExecution): Unit =
        if (qe.analyzed.exists(_.sameResult(target)) &&
            released.compareAndSet(false, true)) {
          // listener-bus thread: no active session is set there, and
          // unpersist can rebuild dependent cached plans
          // (recacheByCondition) — plans built without an active
          // session carry session==null and NPE at next use
          org.apache.spark.sql.SparkSession.setActiveSession(session)
          cached.unpersist(blocking = false)
          session.listenerManager.unregister(this)
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = maybeRelease(qe)
    }
    session.listenerManager.register(listener)
    result
  }

  /** x01 exact dedup: hash-groupBy on full text (the 100 TB-scale
    * baseline dedup — one shuffle on a 128-bit key, no text movement
    * after the md5 projection). */
  def exactDedup(t: Tables): DataFrame =
    t.documents
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("h")

  /** x02 per-document stats: length / token counts / punctuation. */
  def textStats(t: Tables): DataFrame =
    graft.core.Fanout.widen(t.documents)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        round(
          expr("aggregate(toks, 0L, (a, x) -> a + length(x))").cast("double")
            / size(col("toks")).cast("double"), 6).as("avg_token_len"),
        length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long")
          .as("punct"))
      .orderBy("doc_id")

  /** Stopword-argmax language prediction over a token-list column
    * (ties broken by language code order — foldRight gives the FIRST
    * language priority). Shared by [[langId]] and [[corpusFilter]],
    * and by the streaming curation's row-local signal set
    * ([[graft.streaming.DocStream.curationStream]]) — one definition,
    * parity by construction. */
  private[graft] def predLang(toks: Column): Column = {
    val scores = Stopwords.map { case (l, w) =>
      l -> stopwordHits(toks, w).cast("long")
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best, lang).otherwise(acc)
    }
  }

  /** x03 heuristic language-ID: stopword-hit argmax. A narrow
    * projection — scales linearly. */
  def langId(t: Tables): DataFrame = {
    val withScores = Stopwords.foldLeft(
      t.documents.withColumn("toks", tokens(col("text")))) {
      case (df, (lang, words)) =>
        df.withColumn(s"s_$lang", stopwordHits(col("toks"), words).cast("long"))
    }
    withScores
      .select(col("doc_id") +: predLang(col("toks")).as("pred_lang") +:
        Stopwords.map { case (l, _) => col(s"s_$l") }: _*)
      .orderBy("doc_id")
  }

  /** x04 corpus token frequency, top 30 — partial-agg'd groupBy, the
    * classic map-side-combine wordcount shape. */
  def tokenFreq(t: Tables): DataFrame =
    t.documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(30)

  /** x05 exact 3-gram-shingle Jaccard, top-20 most similar pairs over
    * the doc_id<100 subset. Exact pairwise Jaccard is O(n²) — this
    * bounded variant is the correctness anchor; [[minhashSignatures]] /
    * [[lshPairs]] are the scale path. */
  def ngramJaccardTop(t: Tables): DataFrame = {
    val sh = t.documents
      .filter(col("doc_id") < 100)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(wordShingles(col("toks"), 3)).as("s"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("sz", "sz1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("sz", "sz2"), "d2")
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"), 6)
          .as("jac"))
      .orderBy(col("jac").desc, col("d1"), col("d2"))
      .limit(20)
  }

  /** `documents` plus a `toks` column — the single tokenization every
    * text query hangs off. Standalone queries call this inline (and
    * Catalyst prunes `toks` away wherever only `doc_id` is read); the
    * composed pipelines x19/x30 `persist` the result so the regex
    * tokenization scan runs ONCE for all their branches instead of
    * once per branch. */
  private def withToks(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokens(col("text")))

  /** Per-doc DISTINCT hashed-shingle ARRAY `(doc_id, hma)` — the
    * row-local form of the old exploded global `(doc_id, hm)` relation
    * (round-9 scratch fix). A document's shingle SET is a function of
    * the row alone, so the string-level distinct is `array_distinct`
    * INSIDE the row and the global distinct exchange disappears — the
    * per-branch disk probe measured the exploded form's LSH branch
    * leaving ~19 GB of shuffle files at 1.25M docs and exhausting an
    * 83 GB scratch volume at 5M BY ITSELF (SOAK_corpus.md round 9):
    * the full shingle relation was crossing 3-4 exchanges (distinct,
    * signature groupBy, both verification join sides). Hash order
    * matches the old form exactly — distinct on STRINGS, then fold, so
    * post-hash collision duplicates stay in the array and downstream
    * multiset algebra is value-identical. Shingle-less docs are
    * dropped, matching the exploded form where they had no rows.
    *
    * Round-10 fix: the drop-filter is `size(toks) >= 3` BEFORE the
    * projection (equivalent — hma is empty iff fewer than 3 tokens),
    * not `size(hma) > 0` after it: Catalyst pushed the latter below
    * the projection and re-evaluated the whole shingle+md5 pipeline a
    * second time per row, which with the then-interpreted HOF form
    * cost x06 a 10x bench regression (BENCH_r09). The pipeline itself
    * is now the native codegen [[graft.functions.HashedShingles]]. */
  private def shingleArraysFrom(td: DataFrame): DataFrame =
    td
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        hashedShingles(col("toks"), 3, MinHashP).as("hma"))

  /** x06 MinHash signatures (k=16) — the scale path for near-dup at
    * 100 TB, now ZERO-shuffle: the signature is a row-local fold of
    * the per-doc shingle array ([[graft.functions.MinHashSig]] — one
    * codegen loop; previously a `min()` aggregation over the exploded
    * shingle relation, whose exchange was the LSH branch's scratch
    * hog). Deterministic affine family over the shared md5 hash, so
    * the whole signature is oracle-checkable hash-exact. */
  def minhashSignatures(t: Tables): DataFrame = {
    val sel = MinHashCoeffs.indices.map(j =>
      element_at(col("sig"), j + 1).as(f"m$j%02d"))
    shingleArraysFrom(withToks(graft.core.Fanout.widen(t.documents)))
      .select(col("doc_id"), minhashSigArr(col("hma")).as("sig"))
      .select(col("doc_id") +: sel: _*)
      .orderBy("doc_id")
  }

  /** x07 LSH candidate pairs + exact Jaccard verification.
    * Bands of 4 rows × 4 bands over the k=16 signature; candidates =
    * docs sharing any band key; candidates then verified with exact
    * shingle Jaccard (only over candidate pairs — the LSH point).
    *
    * The band probe is ONE exploded table self-joined on
    * (band index, band key) — not four separate joins — so the
    * signature computation is a single exchange that Spark reuses for
    * both join sides (ReusedExchange in the plan). At cluster scale
    * the join shuffles on a short string key; skewed mega-buckets are
    * handled by AQE skew splitting.
    *
    * `bandRows`/`numBands` is the corpus-size knob (the x09 sketch-
    * width move applied to MinHash): collision probability per band is
    * jac^bandRows, so a growing corpus needs WIDER bands to keep the
    * random-collision candidate tail linear — 4×4 is the gate shape
    * (recall down to jac≈0.5), 8×2 the 10⁶+ shape (candidates(8×2) ⊆
    * candidates(4×4): an 8-row band key is the concatenation of two
    * 4-row keys, so every wide match is a pair of narrow matches;
    * exact twins always survive any width). */
  def lshPairs(t: Tables, bandRows: Int = 4, numBands: Int = 4): DataFrame =
    lshPairsFrom(withToks(graft.core.Fanout.widen(t.documents)),
      bandRows, numBands)

  /** x52 banding: 2-row bands collide at jac² — a deliberately wide
    * net, because the collisions that FAIL verification are the point
    * (they are lexically-overlapping-yet-different docs, the textbook
    * hard negative). */
  private[operators] val CpBandRows = 2
  private[operators] val CpNumBands = 8

  /** x52 pair-type cuts over the verified (rounded) Jaccard. */
  private[operators] val CpPosThreshold = 0.5
  private[operators] val CpNegThreshold = 0.2

  /** x52 contrastive pair mining — weak supervision for embedding-
    * model training (the E5/SimCSE recipe: positives from near-
    * duplicate pairs, hard negatives from lexically-close-but-
    * different pairs). Candidates come from a deliberately WIDE
    * MinHash banding ([[CpBandRows]]×[[CpNumBands]]): pairs that
    * collide and verify at jac ≥ 0.5 are positives; pairs that collide
    * yet verify at jac ≤ 0.2 are hard negatives — they share enough
    * shingles to hash together, which is exactly what makes them hard.
    * Mid-band pairs (0.2, 0.5) are ambiguous and dropped, per the
    * standard recipe.
    *
    * Scale shape: identical to x07 (one exploded band self-join, one
    * shared shingle exchange, verification only on candidates) — the
    * band-width knob trades candidate volume for net width exactly as
    * documented on [[lshPairs]]; random same-band collisions stay
    * bounded because each 2-row key space still has ~MinHashP² values. */
  def contrastivePairs(t: Tables, bandRows: Int = CpBandRows,
                       numBands: Int = CpNumBands,
                       posThr: Double = CpPosThreshold,
                       negThr: Double = CpNegThreshold): DataFrame =
    lshPairsFrom(withToks(graft.core.Fanout.widen(t.documents)),
      bandRows, numBands)
      .filter(col("jac") >= posThr || col("jac") <= negThr)
      .withColumn("pair_type",
        when(col("jac") >= posThr, lit("positive"))
          .otherwise(lit("hard_negative")))
      .orderBy("d1", "d2")

  private def lshPairsFrom(td: DataFrame, bandRows: Int = 4,
                           numBands: Int = 4): DataFrame = {
    require(bandRows * numBands <= MinHashCoeffs.length,
      s"banding $numBands x $bandRows exceeds k=${MinHashCoeffs.length}")
    // ONE per-doc shingle-ARRAY table (row-local distinct, row-local
    // signature — see [[shingleArraysFrom]]) feeds the band self-join,
    // and verification happens INSIDE it: the multiset intersection is
    // computed on the join output row from the two sides' arrays, so
    // the only array-carrying exchange is the banded table itself —
    // numBands rows per DOC, a bounded amplification — and everything
    // after the join is skinny (d1, d2, sz, inter).
    //
    // The alternative shapes both lost at scale, measured: the r8
    // exploded (doc_id, hm) relation crossed 3-4 exchanges and
    // exhausted 83 GB at 5M; the first r9 rewrite joined per-doc
    // arrays onto a deduped candidate-pair table, which re-amplifies
    // by CANDIDATES — under heavy bag-duplicity the 4x4 gate banding
    // has mega-buckets (~10^8 in-bucket pairs at 12M), and that one
    // array-carrying exchange wrote ~50 GB (event-log stage 21,
    // SOAK_corpus.md round 9). Here the same pair colliding in
    // several bands re-verifies per band (minter is O(|a|+|b|) per
    // collision, cheap) and the duplicates carry identical columns,
    // so the post-join distinct dedupes them exactly.
    val sh = shingleArraysFrom(td)
    val sigSz = sh.select(col("doc_id"), col("hma"),
      size(col("hma")).cast("long").as("sz"),
      minhashSigArr(col("hma")).as("sig"))
    val bandEntries = array((0 until numBands).map { b =>
      struct(lit(b).as("b"),
        concat_ws("_",
          (0 until bandRows).map(r =>
            element_at(col("sig"), b * bandRows + r + 1)): _*)
          .as("key"))
    }: _*)
    val banded = sigSz
      .select(col("doc_id"), col("sz"), col("hma"),
        explode(bandEntries).as("band"))
      .select(col("doc_id"), col("sz"), col("hma"),
        col("band.b").as("b"), col("band.key").as("key"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.sz").as("sz1"), col("y.sz").as("sz2"),
        multisetIntersect(col("x.hma"), col("y.hma")).as("inter"))
      .distinct()
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"), 6)
          .as("jac"))
      .orderBy("d1", "d2")
  }

  /** x10 quality score: bounded composite of length, lexical diversity
    * and punctuation density (reference-free heuristic). */
  /** The composite quality score of x10 (length, lexical diversity,
    * punctuation density), rounded to 6; NULL for token-less docs.
    * Shared by [[qualityScore]] and [[corpusFilter]]. */
  private[graft] def qualityCol(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    when(nTok > 0,
      round(
        least(lit(1.0), nTok / 100) * 0.5 +
          (size(array_distinct(toks)).cast("double") / nTok) * 0.3 +
          (lit(1.0) - least(lit(1.0),
            length(regexp_replace(text, "[^.,!?;:]", ""))
              .cast("double") / nTok)) * 0.2,
        6))
  }

  def qualityScore(t: Tables): DataFrame =
    t.documents
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        qualityCol(col("text"), col("toks")).as("quality"))
      .orderBy("doc_id")

  /** x15 BPE-ish token counting: subword-proxy counts per document
    * from three single-pattern regex scans — letter runs, digit runs,
    * and non-alphanumeric marks — the pretokenization shape BPE
    * vocabularies segment on (whitespace token counts live in x02).
    * Single-character-class patterns keep Java regex (Spark) and RE2
    * (DuckDB) semantics identical — no alternation-order or lookahead
    * divergence; whitespace is an EXPLICIT char list because the two
    * engines' \s classes differ on vertical tab. Linear narrow scan,
    * no shuffle. */
  def bpeTokens(t: Tables): DataFrame =
    t.documents.select(
        col("doc_id"),
        regexp_count(col("text"), lit("[A-Za-z]+")).cast("long").as("n_words"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_nums"),
        regexp_count(col("text"), lit("[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"))
          .cast("long").as("n_marks"))
      .withColumn("n_bpeish",
        col("n_words") + col("n_nums") + col("n_marks"))
      .orderBy("doc_id")

  /** x11 document fingerprint: md5 of normalized text (case/whitespace
    * folded) — catches trivially-mutated exact dups. */
  def fingerprints(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** 60-bit SimHash per document — ONE row-local projection
    * ([[graft.functions.SimHash60]]): no explode, no exchange, the
    * entire fingerprint build rides the document scan. (History: round
    * ≤5 used explode → 60-column HashAggregate, which kept codegen but
    * shuffled every token hash; the native expression removes that
    * exchange entirely — at 100 TB the fingerprint pass becomes
    * scan-bound, the ideal.) Zero-token docs get the all-ones
    * fingerprint (every vote ties at 0); the coalesce (same value, and
    * unreachable for non-null text) marks `sim` non-nullable so
    * downstream equi-joins on band keys don't push an
    * `isnotnull(graft_simhash(...))` filter into the scan — which
    * would evaluate the fingerprint twice per row (the hm precedent in
    * [[shingleHashesFrom]]). */
  def simhashDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      coalesce(simhashToks(tokens(col("text"))), lit((1L << 60) - 1)).as("sim"))

  /** x12 SimHash table. Near-dup = small Hamming distance; see
    * [[simhashPairs]]. */
  def simhashes(t: Tables): DataFrame =
    simhashDf(t.documents).orderBy("doc_id")

  /** x13 SimHash near-dup pairs via 4×15-bit band blocking + Hamming
    * verification with bit_count(xor) — never O(n²). The fingerprint
    * is carried through the exploded band table, so the expensive
    * per-token simhash projection is computed once and its exchange
    * reused for both self-join sides (vs 3+ recomputations in the
    * naive bands-then-rejoin formulation). */
  def simhashPairs(t: Tables): DataFrame =
    simhashPairsRaw(t).orderBy("d1", "d2")

  /** The x13 pair set without the gate's total sort — reused as the
    * edge list of [[dupClusters]]. */
  private def simhashPairsRaw(t: Tables): DataFrame = {
    // both self-join sides consume the identical fingerprint table;
    // persist it so the md5-per-token pass runs ONCE (the row-local
    // expression no longer ends in an exchange AQE could reuse, and a
    // broadcast join has no exchange at all). doc_id+sim is 16 bytes a
    // document — negligible at any corpus size
    val sims = simhashDf(t.documents).persist(StorageLevel.MEMORY_AND_DISK)
    unpersistAfterFirstUse(simhashPairsFromSims(sims), sims)
  }

  /** SimHash banding layout of the x13/x42 family, batch and stream
    * ([[graft.streaming.DocStream]]): the 60-bit SimHash splits into
    * `SimBands` bands of `SimBandBits` bits; two documents are
    * candidates when any band key agrees. */
  val SimBands = 4
  val SimBandBits = 15
  private val SimBandMask: Long = (1L << SimBandBits) - 1

  /** Band `b`'s key of a SimHash column. */
  def simBandKey(sim: Column, b: Int): Column =
    shiftright(sim, b * SimBandBits) bitwiseAND lit(SimBandMask)

  /** One `(doc_id, sim, b, key)` row per band of a `(doc_id, sim)` table. */
  private def simBands(sims: DataFrame): DataFrame = sims
    .select(col("doc_id"), col("sim"), explode(array((0 until SimBands).map(b =>
      struct(lit(b).as("b"), simBandKey(col("sim"), b).as("key"))): _*))
      .as("band"))
    .select(col("doc_id"), col("sim"),
      col("band.b").as("b"), col("band.key").as("key"))

  /** The banded ham≤6 pair join over a `(doc_id, sim)` table — both
    * self-join sides read `sims`, so persist it at the call site.
    * Candidate volume is inherently quadratic in fingerprint
    * DUPLICITY (g docs sharing one sim → C(g,2) pairs — the x13 pair
    * LIST cannot be smaller); callers that only need CONNECTIVITY
    * must collapse to distinct fingerprints first ([[dupClusters]]). */
  private def simhashPairsFromSims(sims: DataFrame): DataFrame = {
    val banded = simBands(sims)
    banded.as("x")
      .join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.sim").as("sim1"), col("y.sim").as("sim2"))
      .distinct()
      .select(col("d1"), col("d2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).cast("long").as("ham"))
      .filter(col("ham") <= 6)
  }

  /** x16 repetition signals — the Gopher-family quality filters (Rae
    * et al. 2021 §A1.1: "fraction of characters in the most common
    * n-gram" / "fraction of characters in duplicate n-grams", here over
    * token instances): per document, the share of n-gram instances
    * claimed by the single most frequent n-gram and the share that are
    * repeats, for n = 2, 3. Shuffle-free: n-grams never leave their
    * document, so the native [[graft.functions.GramRepetition]]
    * computes both signals row-locally — one count map per row, zero
    * exchanges at any corpus size (an exploded + grouped wordcount form
    * shuffles ~2x the corpus token volume). Same Hash60 gram fold as
    * the oracle (collisions cancel). Docs too short for an n-gram get
    * NULLs. */
  def repetition(t: Tables): DataFrame =
    repetitionFrom(withToks(graft.core.Fanout.widen(t.documents)))

  private def repetitionFrom(td: DataFrame): DataFrame =
    td.select(col("doc_id"),
        call_function("graft_gram_stats", col("toks"), lit(2)).as("g2"),
        call_function("graft_gram_stats", col("toks"), lit(3)).as("g3"))
      .select(col("doc_id"),
        round(col("g2.top_frac"), 6).as("top2gram_frac"),
        round(col("g2.dup_frac"), 6).as("dup2gram_frac"),
        round(col("g3.top_frac"), 6).as("top3gram_frac"),
        round(col("g3.dup_frac"), 6).as("dup3gram_frac"))
      .orderBy("doc_id")

  /** Row-local 2-gram duplicate-instance fraction — the x16/x30
    * "repetitive" signal as ONE column (native gram stats), shared
    * with the streaming curation
    * ([[graft.streaming.DocStream.curationStream]]) so batch and
    * stream cannot drift. NULL for docs with no 2-grams, like
    * [[repetition]]. */
  private[graft] def dup2GramFrac(toks: Column): Column =
    round(call_function("graft_gram_stats", toks, lit(2))
      .getField("dup_frac"), 6)

  /** x18 deterministic stratified sample: the `perSource` docs with
    * the smallest md5(text) per source — the reproducible hash-ordered
    * downsampling a training-data pipeline uses to build balanced
    * subsets without a seed file (re-running over a grown corpus keeps
    * previously chosen docs unless new text hashes below them). One
    * window per source; a skewed giant source degrades to the standard
    * two-stage per-partition-then-global top-k if ever needed. */
  def stratifiedSample(t: Tables, perSource: Int = 20): DataFrame =
    t.documents
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(md5(col("text")), col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= perSource)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "rk")

  /** x19 the end-to-end corpus filter — the composed training-data
    * pipeline every operator above exists for: each document gets ONE
    * deterministic status by precedence
    * `exact_dup > too_short > lang > low_quality > repetitive >
    * near_dup > kept`, with every signal the same oracle-gated
    * computation as its standalone query (x01/x02/x03/x10/x16/x07).
    *
    * Scan economy: the narrow per-row signals (token count, language,
    * quality) and the exact-dup rank fuse into ONE pass over documents
    * (the dedup "join" is a window over md5(text), no second scan);
    * the two genuinely shuffling signals — n-gram repetition and
    * MinHash-LSH near-dup pairs — run as their own branches and join
    * back by doc_id. Near-dup drops the HIGHER doc_id of every
    * qualifying pair (survivorship of the lower is irrelevant, keeping
    * the rule deterministic without union-find). */
  def corpusFilter(t: Tables, minTokens: Long = 20,
                   langs: Seq[String] = Seq("en"),
                   minQuality: Double = 0.3, maxDupFrac: Double = 0.6,
                   nearDupJaccard: Double = 0.8): DataFrame = {
    val b = curationBranches(t, nearDupJaccard)
    val out = b.base
      .join(b.rep, Seq("doc_id"), "left")
      .join(b.nearDups, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("hash_rank") > 1, "exact_dup")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(not(col("pred_lang").isInCollection(langs)), "lang")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("dup2gram_frac") > maxDupFrac, "repetitive")
          .when(col("is_near_dup"), "near_dup")
          .otherwise("kept"))
      .select(col("doc_id"), col("status"), col("pred_lang"),
        col("n_tokens"), col("quality"))
      .orderBy("doc_id")
    unpersistAfterFirstUse(out, b.td)
  }

  /** The branches x19 and x30 share — built once here so the two
    * pipelines can only differ in their precedence chain (and x30's two
    * extra branches). `td` is the persisted single tokenization every
    * branch reads (release it via [[unpersistAfterFirstUse]] on the
    * final output); pruned to the columns the pipelines touch;
    * disk-spillable — at cluster scale one materialization (~2x corpus)
    * vs a full tokenize scan per branch. `base` fuses the narrow
    * per-row signals (token count, language, quality) and the exact-dup
    * rank into ONE pass (the dedup "join" is a window over md5(text),
    * no second scan); `rep` (2-gram repetition) and `nearDups`
    * (MinHash-LSH pairs, HIGHER doc_id of each qualifying pair) are the
    * genuinely shuffling branches, joined back by doc_id. */
  private final case class CurationBranches(
      td: DataFrame, base: DataFrame, rep: DataFrame, nearDups: DataFrame)

  private def curationBranches(t: Tables, nearDupJaccard: Double,
                               tdLevel: StorageLevel =
                                 StorageLevel.MEMORY_AND_DISK)
  : CurationBranches = {
    val td = withToks(t.documents.select("doc_id", "text"))
      .persist(tdLevel)
    val base = td
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("pred_lang", predLang(col("toks")))
      .withColumn("quality", qualityCol(col("text"), col("toks")))
      .withColumn("hash_rank", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
    val rep = repetitionFrom(td).select(col("doc_id"), col("dup2gram_frac"))
    val nearDups = lshPairsFrom(td)
      .filter(col("jac") >= nearDupJaccard)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("is_near_dup", lit(true))
    CurationBranches(td, base, rep, nearDups)
  }

  /** x20 KMV (k-minimum-values) approximate distinct count — the
    * mergeable cardinality sketch of a 100 TB pipeline (Bar-Yossef et
    * al. 2002): per group keep the k smallest values of a uniform hash
    * of the keys; if fewer than k survive that IS the exact count,
    * else estimate (k−1)/u_k with u_k the k-th smallest hash
    * normalized to [0,1). Built on the engine's single shared hash
    * primitive (md5 h60), so the DuckDB oracle reproduces the estimate
    * BIT-FOR-BIT — unlike HLL, whose engine-private sketches can never
    * cross-check. Scale shape: the k smallest are found in two stages
    * (k per 64-way salt bucket, then k global), so no window partition
    * ever holds more than 64·k rows per group at any corpus size. */
  def kmvDistinct(t: Tables, k: Int = 32): DataFrame = {
    val twoPow60 = 1152921504606846976.0 // 2^60, exactly representable
    val hashed = t.events
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), hash60(col("user_id").cast("string")).as("h"))
    val stage1 = hashed
      .withColumn("rk1", row_number().over(
        Window.partitionBy(col("event_type"), pmod(col("h"), lit(64L)))
          .orderBy(col("h"))))
      .filter(col("rk1") <= k)
    val stage2 = stage1
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("h")).cast("long"))
    stage2.groupBy("event_type")
      .agg(
        max("rk").as("sketch_n"), // < k  ⟺  the group has < k distinct keys
        max(when(col("rk") === k, col("h"))).as("hk"))
      .select(col("event_type"),
        round(
          when(col("sketch_n") < k, col("sketch_n").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (col("hk").cast("double") / lit(twoPow60))), 6).as("kmv_est"))
      .orderBy("event_type")
  }

  /** x21 duplicate clusters — the union-find step every dedup pipeline
    * needs between pair generation and survivorship: the SimHash
    * near-dup relation (the x13 edge list) grouped into connected
    * components, cluster id = min doc_id of the component, keep flag
    * on that representative.
    *
    * The edge list is NOT the materialized x13 pair list: identical
    * fingerprints are ham=0 twins, so a group of g bag-identical
    * copies contributes C(g,2) pairs — quadratic in duplicity, and at
    * a heavily-duplicated corpus that IS the data (the round-8 500k
    * soak measured 2.85e7 in-bucket candidate pairs at 50k docs,
    * ~100x that at 500k, from exactly this). Connectivity needs none
    * of it: collapse to one representative per DISTINCT fingerprint
    * (min doc_id), emit member→rep edges (linear in the corpus), and
    * run the banded ham≤6 pair join over distinct fingerprints only.
    * Components are identical — twins always share all band keys, so
    * member→rep replaces the twin clique, and any cross-group pair
    * (same band criterion, same Hamming cut, evaluated on the same
    * fingerprint values) survives as a rep–rep edge. The oracle's
    * recursive min-label CTE over the full x13 pair list reproduces
    * the result hash-exactly (the sf0.01 gate).
    *
    * Distributed hash-min label propagation past the driver-limit:
    * each round every node adopts the minimum label in its closed
    * neighborhood (one join + one min-groupBy) plus a pointer jump,
    * converging in O(log diameter) rounds with a driver-side fixpoint
    * check bounding the loop. */
  def dupClusters(t: Tables, maxRounds: Int = 25): DataFrame = {
    val sims = simhashDf(t.documents).persist(StorageLevel.MEMORY_AND_DISK)
    val labels = connectedComponents(dupEdges(sims), maxRounds)
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("is_rep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
    // connectedComponents is eager (it counts, then either collects or
    // checkpoints) — nothing downstream re-reads sims, release now
    sims.unpersist(false)
    labels
  }

  /** The collapsed x21 edge list over a `(doc_id, sim)` table: a
    * member→representative star per distinct fingerprint (linear in
    * the corpus) plus the banded ham≤6 rep–rep pairs. Public so soak
    * harnesses can dump the exact edges [[dupClusters]] ran CC over
    * and verify the labels with an independent union-find. */
  def dupEdges(sims: DataFrame): DataFrame = {
    val groups = sims.groupBy("sim").agg(min("doc_id").as("rep"))
    val memberEdges = sims.join(groups, "sim")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("s"), col("rep").as("d"))
    val repPairs = simhashPairsFromSims(
      groups.select(col("rep").as("doc_id"), col("sim")))
    memberEdges.unionByName(
      repPairs.select(col("d1").as("s"), col("d2").as("d")))
  }

  /** Connected components over undirected edges given as (s, d) rows
    * (one direction suffices). Output: (v, lbl) with lbl = min node id
    * of v's component.
    *
    * Size-routed: the dedup graph is orders of magnitude
    * smaller than the corpus (only docs in near-dup PAIRS appear), so
    * up to `driverLimit` edges a driver union-find answers in under a
    * second (10M edges ≈ 160 MB collected — nothing on a driver sized
    * for a 1000-executor cluster), while each distributed round costs
    * ~3 scheduled jobs across the whole cluster. Past the limit, the
    * iterative hash-min + pointer-jump propagation runs fully
    * distributed. Both paths produce the identical min-label output
    * (spec-asserted). A distributed run that has not reached its
    * fixpoint after `maxRounds` rounds throws an
    * `IllegalStateException` rather than return unconverged labels. */
  private[operators] def connectedComponents(edges0: DataFrame,
                                             maxRounds: Int = 25,
                                             driverLimit: Long = 10000000): DataFrame = {
    val sess = edges0.sparkSession
    val input = edges0.persist()
    val nEdges = input.count()
    if (nEdges <= driverLimit) {
      import sess.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      input.select(col("s").cast("long"), col("d").cast("long")).collect()
        .foreach { row =>
          val s = row.getLong(0); val d = row.getLong(1)
          parent.getOrElseUpdate(s, s)
          parent.getOrElseUpdate(d, d)
          val rs = find(s); val rd = find(d)
          if (rs != rd) parent(rs) = rd
        }
      val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
      parent.keysIterator.foreach { v =>
        val r = find(v)
        minOf(r) = math.min(minOf.getOrElse(r, v), v)
      }
      val out = parent.keysIterator.map(v => (v, minOf(find(v)))).toSeq
      input.unpersist()
      return out.toDF("v", "lbl")
    }
    val edges = input
      .unionByName(input.select(col("d").as("s"), col("s").as("d")))
      .persist()
    // localCheckpoint (eager) each round: truncates the logical plan,
    // which otherwise DOUBLES per iteration (the per-round join/agg
    // re-embeds the previous round's whole tree) and OOMs the analyzer
    // long before the data is big
    var labels = edges.select(col("s").as("v")).distinct()
      .select(col("v"), col("v").as("lbl")).localCheckpoint(true)
    var rounds = 0
    var converged = labels.isEmpty
    while (!converged && rounds < maxRounds) {
      // (1) neighbor-min: adopt the smallest label in the closed
      // neighborhood
      val prop = edges.join(labels, edges("s") === labels("v"))
        .select(col("d").as("v"), col("lbl"))
      val nm = labels.unionByName(prop).groupBy("v").agg(min("lbl").as("lbl"))
      // (2) pointer-jump (path doubling): follow the label's own label
      // — lbl(v) := lbl(lbl(v)). Near-dup components can be CHAINS
      // (a~b~c without a~c), where neighbor-min alone needs
      // O(diameter) rounds; the jump makes it O(log diameter).
      val hop = nm.select(col("v").as("pv"), col("lbl").as("plbl"))
      val next = nm.join(hop, nm("lbl") === hop("pv"), "left")
        .select(col("v"), coalesce(col("plbl"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("lbl", "old"), "v")
        .filter(col("lbl") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      rounds += 1
    }
    edges.unpersist()
    input.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxRounds=$maxRounds " +
          s"rounds over $nEdges edges")
    labels
  }

  /** x23 dedup survivorship — the end-to-end keep/drop decision every
    * dedup pipeline terminates in: exact duplicates (md5 rank > 1,
    * x01's rule) drop first, then non-representative members of
    * near-dup clusters (x21's components; the min-doc_id rep
    * survives), everything else is kept. One documents pass for the
    * hash rank + the cluster labels joined back by doc_id. */
  def dedupSurvivors(t: Tables): DataFrame = {
    val ranked = t.documents
      .withColumn("hr", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
    val members = dupClusters(t)
      .filter(!col("is_rep"))
      .select(col("doc_id"), lit(true).as("nd"))
    ranked.join(members, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("hr") > 1, "exact_dup")
          .when(col("nd"), "near_dup_member")
          .otherwise("kept").as("status"))
      .orderBy("doc_id")
  }

  /** x24 quality-weighted deterministic sample — corpus curation's
    * sampling step done reproducibly: document d is kept iff
    * u(d) < quality(d), where u(d) = h60("ws_" ++ doc_id) / 2^60 is a
    * per-document uniform deviate from the shared hash primitive. A
    * high-quality doc is kept with probability ≈ its quality score,
    * the decision is a pure per-row function (no RNG state, no
    * sampling job — identical on any cluster layout and in the DuckDB
    * oracle), and re-running with the same corpus yields the same
    * sample — the property seed-based `df.sample` cannot give across
    * repartitions. */
  def weightedSample(t: Tables): DataFrame = {
    val u = hash60(concat(lit("ws_"), col("doc_id").cast("string")))
      .cast("double") / lit(1152921504606846976.0)
    t.documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("quality", qualityCol(col("text"), col("toks")))
      .filter(u < col("quality"))
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")
  }

  /** x25 unigram log-probability score — the corpus-trained language-
    * model quality signal (the perplexity-filter shape of CCNet/Gopher
    * pipelines, reduced to the unigram model that stays SQL-exact):
    * per document, the mean log10 probability of its tokens under the
    * corpus' own unigram distribution. Rare-token-heavy (or
    * out-of-domain) documents score low. Shapes: one wordcount shuffle
    * to train, one token→count join to score (both map-side
    * combinable); per-token terms are rounded then summed as
    * DECIMAL(18,6) so the distributed sum is order-independent (the
    * q31 convention). Token-less documents surface NULL. */
  def unigramLogProb(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totalDf = counts.agg(sum("c").as("n"))
    val scored = toks
      .join(counts, "tok")
      .crossJoin(broadcast(totalDf))
      .select(col("doc_id"),
        round(log10(col("c").cast("double") / col("n").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("lp"))
      .groupBy("doc_id")
      .agg(round((sum("lp").cast("double") / count(lit(1))), 6).as("mean_logp"))
    t.documents.select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .orderBy("doc_id")
  }

  /** name → query, in declared order. */
  /** x26 benchmark decontamination (the GPT-3 §5 / PaLM eval-overlap
    * scrub): flag every training document sharing at least one 3-gram
    * shingle with the held-out benchmark set. The benchmark stand-in
    * is deterministic — docs with `doc_id % mod == 0` (real pipelines
    * supply the eval suites here; the overlap machinery is identical).
    *
    * Scale shape: eval sets are BOUNDED (thousands of docs however big
    * the corpus), so the benchmark's distinct shingle set is explicitly
    * `broadcast()` — the corpus side is one shingle scan + broadcast
    * hash join + per-doc count. No corpus-vs-corpus shuffle; the only
    * wide op is the per-doc distinct/count, keyed on doc_id. */
  /** Gate constants for x26/x27/x28 — interpolated into BOTH the Spark
    * plans (as defaults) and the DuckDB oracle SQL, the no-drift rule. */
  private[graft] val DecontamMod = 97
  private val BoilerMaxDocs = 10L
  private val BudgetTokens = 800L // binds from sf0.01 up (~1.3k tokens/source there)
  private val PackSeqLen = 512L

  /** Distinct (doc_id, 60-bit-hashed shingle) pairs for x26/x27: the
    * hash is applied BEFORE the distinct, so every downstream shuffle
    * moves 8-byte longs instead of multi-word strings (CCNet hashes
    * lines for exactly this reason). The same md5-fold runs in the
    * DuckDB oracle, so the ~n²/2⁶¹ collision mass is identical on both
    * engines and cancels in the compare. */
  private def hashedShinglesFrom(td: DataFrame): DataFrame =
    td
      // row-local distinct (the round-9 scratch fix, same reasoning as
      // [[shingleArraysFrom]]): the old global `.distinct()` forced the
      // full (doc_id, hs) relation through an exchange — at 5M docs
      // that relation is ~290M rows, and it fed x26/x27/x30's branches.
      // Distinct is POST-hash on hs, exactly like the old form and the
      // oracle's `SELECT DISTINCT doc_id, hash(s)` CTE (mod=0 mode of
      // the native [[graft.functions.HashedShingles]] — one codegen
      // loop instead of the interpreted HOF pipeline).
      .select(col("doc_id"),
        explode(hashedShingles(col("toks"), 3, 0L)).as("hs"))

  def decontaminate(t: Tables, mod: Int = DecontamMod): DataFrame =
    decontaminateFrom(withToks(t.documents), mod)

  private def decontaminateFrom(td: DataFrame, mod: Int): DataFrame = {
    val sh = hashedShinglesFrom(td)
    val bench = sh.filter(col("doc_id") % mod === 0).select("hs").distinct()
    val hits = sh.filter(col("doc_id") % mod =!= 0)
      .join(broadcast(bench), "hs")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    td.filter(col("doc_id") % mod =!= 0)
      .select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** x31 Bloom-prefiltered decontamination — x26's EXACT output on the
    * scale path for eval suites whose distinct-shingle set outgrows a
    * broadcast hash relation (multi-benchmark suites at 100 TB corpus
    * scale). Three-phase:
    *   1. the bench shingle set builds a Bloom filter DISTRIBUTEDLY
    *      (`df.stat.bloomFilter`'s treeAggregate — ~1.2 bytes/key at
    *      1% FPP vs ~32+/key for a broadcast hashed relation);
    *   2. corpus shingles probe the filter via the codegen'd
    *      [[graft.functions.BloomContains]] — a per-row bit test that
    *      drops ~(1−FPP) of clean shingles before any join;
    *   3. survivors (true hits + ~FPP false positives) are verified
    *      EXACTLY by a shuffle hash join against the bench set —
    *      deliberately NOT broadcast: this join is the path that still
    *      works when the bench side doesn't fit an executor, and after
    *      the Bloom cut its probe side is a sliver of the corpus.
    * False positives die in phase 3, false negatives don't exist, so
    * the result is row-identical to [[decontaminate]] — the two gates
    * share one oracle. */
  def bloomDecontaminate(t: Tables, mod: Int = DecontamMod,
                         fpp: Double = 0.01): DataFrame =
    bloomDecontaminateFrom(withToks(t.documents), mod, fpp)

  private def bloomDecontaminateFrom(td: DataFrame, mod: Int,
                                     fpp: Double): DataFrame = {
    val sh = hashedShinglesFrom(td)
    val bench = sh.filter(col("doc_id") % mod === 0).select("hs").distinct()
    val corpus = sh.filter(col("doc_id") % mod =!= 0)
    // two bounded-side jobs (count + treeAggregate build); the corpus
    // never moves for either
    val nBench = math.max(bench.count(), 1L)
    val bf = bench.stat.bloomFilter("hs", nBench, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val prefiltered = corpus.filter(
      call_function("graft_bloom_contains", col("hs"), lit(bos.toByteArray)))
    val hits = prefiltered
      .join(bench.hint("shuffle_hash"), "hs")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    td.filter(col("doc_id") % mod =!= 0)
      .select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Gate constants for x32 — interpolated into both sides, as with
    * x26/x27/x28. Terms are mid-frequency words of the fixture
    * vocabulary; k1/b are the standard Robertson defaults. */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = Seq("spark", "window", "merge")
  private val Bm25TopK = 30

  /** x32 BM25 top-k retrieval (Robertson/Spärck Jones; the Lucene
    * `ln(1 + (N − df + ½)/(df + ½))` idf form) — the classic
    * quality-weighted lexical scorer a training-data pipeline uses for
    * targeted corpus slicing ("the documents most about X").
    *
    * Scale shape: the query-term filter lands directly on the exploded
    * token stream, so the full corpus contributes one narrow
    * tokenize+filter pass; `df` (≤ |terms| rows) and the N/avgdl
    * scalar frame are broadcast; per-doc length joins on `doc_id`.
    * The only wide ops are the tf/dl aggregations (map-side combined,
    * keyed on doc_id) and the final TakeOrdered top-k — no global
    * window, no corpus-×-corpus work. Ordering (and the tie-break) is
    * on the ROUNDED score + doc_id so ranking is engine-exact. */
  def bm25TopK(t: Tables): DataFrame = {
    val f = retrievalFrames(t)
    val contrib = f.tf
      .join(broadcast(f.df), "tok")
      .join(f.dl, "doc_id")
      .crossJoin(broadcast(f.stats))
      .select(col("doc_id"),
        (log(lit(1.0) +
            (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))).as("c"))
    contrib
      .groupBy("doc_id").agg(round(sum("c"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Shared query-term frames for the lexical retrievers (x32 BM25 and
    * x41's TF-IDF leg): per-doc length, corpus stats, query-term tf/df. */
  private case class RetrievalFrames(dl: DataFrame, stats: DataFrame,
                                     tf: DataFrame, df: DataFrame)

  private def retrievalFrames(t: Tables): RetrievalFrames = {
    val td = withToks(t.documents).select(col("doc_id"), col("toks"))
    val dl = td.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = td
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    RetrievalFrames(dl, stats, tf, df)
  }

  // ---- x34 PII redaction -------------------------------------------------

  /** Regex patterns for x34, shared verbatim with the DuckDB oracle
    * (both engines' dialects — Java regex and RE2 — agree on this
    * subset: char classes, bounded/unbounded repetition, `\b`). */
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val PiiIpRe = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** x34 PII redaction — the scrub pass every training-data pipeline
    * runs before text leaves curation (emails, phone numbers, IPv4
    * addresses → typed placeholders), with per-doc match counts for
    * the redaction audit log.
    *
    * The fixture corpus is synthetic token soup with no natural PII,
    * so the gate plants deterministic PII derived from `doc_id` (an
    * email, a phone, an IP appended to every doc — the SAME injection
    * expression runs in the oracle), then counts and redacts it. The
    * redacted text is reported as `red_md5` so the gate hashes full
    * post-redaction content without shipping 60k long strings.
    *
    * Scale shape: pure per-row projection — counts via
    * `regexp_extract_all` + size, redaction via three chained
    * `regexp_replace` — one narrow scan, zero shuffles, fully inside
    * whole-stage codegen. */
  def piiRedact(t: Tables): DataFrame = {
    val injected = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com call 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"), lit(" end"))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(injected, PiiEmailRe, "<EMAIL>"),
        PiiPhoneRe, "<PHONE>"),
      PiiIpRe, "<IP>")
    graft.core.Fanout.widen(t.documents).select(
        col("doc_id"),
        size(regexp_extract_all(injected, lit(PiiEmailRe), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(injected, lit(PiiPhoneRe), lit(0)))
          .cast("long").as("n_phone"),
        size(regexp_extract_all(injected, lit(PiiIpRe), lit(0)))
          .cast("long").as("n_ip"),
        md5(redacted).as("red_md5"))
      .orderBy("doc_id")
  }

  // ---- x35 chunk-level dedup ---------------------------------------------

  /** Chunk width for x35 (tokens per chunk). */
  private val ChunkTokens = 20

  /** x35 chunk-level (paragraph-analog) exact dedup — the C4/RefinedWeb
    * span-dedup move: documents are split into fixed 20-token chunks,
    * each chunk is deduplicated GLOBALLY (first occurrence by
    * (doc_id, chunk index) wins), and every document is reassembled
    * from its surviving chunks. Catches the cross-document repeated
    * span (license headers, navigation text, quoted passages) that
    * whole-document dedup (x01) and near-dup (x13) both miss.
    *
    * Scale shape: identical to x01 but at chunk grain — one window
    * PARTITIONED BY the chunk text (the 100 TB-safe key: partitions
    * are per-chunk occurrence lists, never a global order), then one
    * map-side-combined per-doc reassembly. Chunk volume is corpus
    * volume; nothing pairwise. */
  def chunkDedup(t: Tables, c: Int = ChunkTokens): DataFrame = {
    val td = withToks(t.documents)
    val chunks = td.select(col("doc_id"),
      posexplode(wordChunks(col("toks"), c)).as(Seq("idx", "chunk")))
    val ranked = chunks.withColumn("rnk",
      row_number().over(
        Window.partitionBy("chunk").orderBy("doc_id", "idx")))
    ranked
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rnk") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("rnk") === 1, struct(col("idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  // ---- x36 DSIR importance weights ---------------------------------------

  /** Hashed-feature bucket count and target slice for x36. */
  private val DsirBuckets = 4096L
  private val DsirTarget = "src0"

  /** x36 DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023):
    * per-document log importance weight log p_target(doc) −
    * log p_raw(doc) under hashed-bigram bag-of-ngrams models with
    * add-1 smoothing over `DsirBuckets` buckets. The target
    * distribution is the `source = src0` slice; every non-target doc
    * gets the weight its bigrams earn — the score a pipeline feeds
    * into Gumbel-top-k resampling to tilt a raw crawl toward a
    * high-quality target domain.
    *
    * Scale shape: the two bucket tables are ≤ `DsirBuckets` rows
    * REGARDLESS of corpus size (map-side-combined counts on a
    * 4096-value key), the log-ratio table is broadcast back onto the
    * per-(doc, bucket) counts, and the per-doc weight is one more
    * map-side-combined aggregation — strictly linear passes, model
    * state O(buckets), nothing driver-side.
    *
    * Two independent passes, NO corpus-sized cache (round-10 rework):
    * the model fit aggregates occurrences straight to the ≤4096-row
    * bucket marginals (it never needed the per-doc grain), and the
    * scoring pass re-hashes the non-target slice. The old shape
    * persisted the per-(doc, bucket) counts MEMORY_AND_DISK to share
    * them between the two consumers — at bench scale the cache
    * build/evict cycle made x36 the noisiest gate (r9 rep spread
    * 1.47-2.95 s, ~80% of median), and at 100 TB a corpus-sized cache
    * is exactly what a two-pass pipeline must not require. Bigram
    * hashing is the native [[graft.functions.HashedShingles]]
    * (distinct=false — multiplicity preserved), so a re-pass costs one
    * codegen loop, not an interpreted HOF pipeline. */
  def dsirWeights(t: Tables): DataFrame = {
    val td = withToks(graft.core.Fanout.widen(t.documents))
    // per-occurrence hashed bigrams (bag semantics — counts downstream)
    val occ = td.select(col("doc_id"), col("source"),
      explode(hashedShingles(col("toks"), 2, DsirBuckets,
        distinct = false)).as("b"))
    // pass 1, model fit: both marginals in ONE map-side-combined agg
    // to ≤DsirBuckets rows; totals from the tiny table itself
    val buckets = occ.groupBy("b").agg(
      sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= DsirTarget, 1L).otherwise(0L)).as("cr"))
    val tot = buckets.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val lr = buckets
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + lit(1.0)) /
             (col("tt") + lit(DsirBuckets.toDouble))) -
         log((col("cr") + lit(1.0)) /
             (col("tr") + lit(DsirBuckets.toDouble)))).as("lr"))
    // pass 2, scoring: per-(doc, bucket) counts (same grain as before —
    // the 6-dp term rounds cnt·lr, so the grain is value-bearing),
    // broadcast-joined to the model, then per-(doc, bucket) terms
    // rounded and decimal-summed (the x25/x47 order-independence
    // discipline): sum-of-doubles into ROUND(·,6) is partition-order-
    // dependent; DECIMAL(18,6) is exact
    occ.filter(col("source") =!= DsirTarget)
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        round(sum(round(col("cnt") * col("lr"), 6).cast(DecimalType(18, 6)))
          .cast("double"), 6).as("dsir_w"))
      .orderBy("doc_id")
  }

  /** Per-occurrence hashed bigram buckets for the DSIR family — bag
    * semantics (multiplicity preserved), the grain [[dsirWeights]]'s
    * single-pass gate form and the fit-once [[DsirModel]] share. */
  private def dsirOcc(docs: DataFrame): DataFrame =
    withToks(graft.core.Fanout.widen(docs))
      .select(col("doc_id"),
        explode(hashedShingles(col("toks"), 2, DsirBuckets,
          distinct = false)).as("b"))

  /** Fit-once DSIR importance model (the build-once pattern applied to
    * x36): the per-bucket log-ratio table `lr(b, lr)` (≤ [[DsirBuckets]]
    * rows, persisted, broadcast at scoring), plus `lr0` — the smoothed
    * log-ratio of a bucket UNSEEN in both training marginals, the value
    * [[dsirScore]] substitutes when a new batch hashes into a bucket
    * the fit never saw (the gate form cannot hit this case: its score
    * docs are part of the marginals by construction). */
  final case class DsirModel(lr: DataFrame, lr0: Double) {
    def release(): Unit = lr.unpersist(blocking = false)
  }

  /** Fit the [[DsirModel]] from a target (in-domain) frame and a raw
    * frame: one map-side-combined bucket count per side, a full outer
    * merge to ≤ [[DsirBuckets]] rows, one scalar reduction for the
    * totals. Identical smoothing math to the x36 gate ((c+1)/(tot+B)
    * add-1 over the bucket count), so a model fit on the gate's slices
    * scores the gate's answer exactly (Round11Spec pin). */
  def buildDsirModel(target: DataFrame, raw: DataFrame): DsirModel = {
    val ct = dsirOcc(target).groupBy("b").agg(count(lit(1)).as("ct"))
    val cr = dsirOcc(raw).groupBy("b").agg(count(lit(1)).as("cr"))
    val buckets = ct.join(cr, Seq("b"), "full")
      .select(col("b"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val tot = buckets.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val lr = buckets.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + lit(1.0)) /
             (col("tt") + lit(DsirBuckets.toDouble))) -
         log((col("cr") + lit(1.0)) /
             (col("tr") + lit(DsirBuckets.toDouble)))).as("lr"))
      .persist()
    lr.count()
    val totals = tot.collect()(0)
    val (tt, tr) = (totals.getLong(0), totals.getLong(1))
    val lr0 = math.log(1.0 / (tt + DsirBuckets.toDouble)) -
      math.log(1.0 / (tr + DsirBuckets.toDouble))
    DsirModel(lr, lr0)
  }

  /** Persist a [[DsirModel]] as parquet: the lr table plus a one-row
    * `meta.parquet` carrying lr0. */
  def saveDsirModel(m: DsirModel, path: String): Unit = {
    m.lr.write.mode("overwrite").parquet(s"$path/lr.parquet")
    val spark = m.lr.sparkSession
    import spark.implicits._
    Seq(m.lr0).toDF("lr0").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta.parquet")
  }

  /** Load a [[saveDsirModel]] artifact, persisted and materialized. */
  def loadDsirModel(spark: org.apache.spark.sql.SparkSession,
                    path: String): DsirModel = {
    val lr = spark.read.parquet(s"$path/lr.parquet").persist()
    lr.count()
    val lr0 = spark.read.parquet(s"$path/meta.parquet")
      .collect()(0).getDouble(0)
    DsirModel(lr, lr0)
  }

  /** Score a document frame under a fitted [[DsirModel]]: per-document
    * importance weight (doc_id, n_bigrams, dsir_w) — per-(doc, bucket)
    * counts, one broadcast join to the lr table (unseen buckets score
    * lr0), per-(doc, bucket) terms rounded and decimal-summed (the
    * x25/x47 order-independence discipline, same as the gate). */
  def dsirScore(m: DsirModel, docs: DataFrame): DataFrame =
    dsirOcc(docs)
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(m.lr), Seq("b"), "left")
      .withColumn("lrv", coalesce(col("lr"), lit(m.lr0)))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        round(sum(round(col("cnt") * col("lrv"), 6).cast(DecimalType(18, 6)))
          .cast("double"), 6).as("dsir_w"))

  /** x27 cross-document boilerplate fraction — the CCNet/Gopher
    * duplicated-line-fraction signal re-expressed for unstructured
    * docs: per document, the fraction of its distinct 3-gram shingles
    * whose corpus document-frequency exceeds `maxDocs` (x16 measures
    * WITHIN-doc repetition; this measures ACROSS-doc boilerplate).
    *
    * Scale shape: two shuffles on the shingle key (per-doc distinct,
    * then map-side-combined document-frequency count) + one shuffle
    * join back — all linear in total shingle volume, no pairwise
    * work at any corpus size. */
  def boilerplate(t: Tables, maxDocs: Long = BoilerMaxDocs): DataFrame =
    boilerplateFrom(withToks(t.documents), maxDocs)

  private def boilerplateFrom(td: DataFrame, maxDocs: Long): DataFrame = {
    val sh = hashedShinglesFrom(td)
    val docFreq = sh.groupBy("hs").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(docFreq, "hs")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > maxDocs, 1L).otherwise(0L)).as("n_common"))
    td.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(col("n_shingles") > 0,
          round(col("n_common").cast("double") /
            col("n_shingles").cast("double"), 6)).as("boiler_frac"))
      .orderBy("doc_id")
  }

  /** x28 per-source token-budget fill — how a training mixture is
    * actually materialized: each source (domain) gets a token budget,
    * filled best-quality-first. Within every source, docs are taken in
    * (quality desc, doc_id) order while the running token count stays
    * within `budget`.
    *
    * Scale shape: the window is PARTITIONED BY source with a per-group
    * sort — one shuffle on the source key, no global ordering anywhere
    * (the global-window caveat of q21/q30 does not apply). Sources are
    * the unit of parallelism, matching how mixture building shards in
    * practice. */
  def budgetFill(t: Tables, budget: Long = BudgetTokens): DataFrame = {
    val base = t.documents
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        qualityCol(col("text"), col("toks")).as("quality"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "source", "n_tokens", "quality", "cum_tokens")
      .orderBy("source", "cum_tokens", "doc_id")
  }

  /** x29 sequence packing — the concat-then-chunk layout LM
    * pretraining actually trains on: within each source, documents
    * concatenate in doc_id order into one token stream that is cut
    * into fixed `seqLen`-token training sequences. Per document: its
    * global token offset in the stream and the first/last sequence
    * index it occupies (a document crossing a boundary is split across
    * those sequences — the standard packing, no padding waste).
    *
    * Scale shape: one running-sum window PARTITIONED BY source in
    * doc_id order — per-group and distributed, no global ordering; the
    * chunk indices are pure per-row arithmetic on the running offset.
    * Sources are the packing shards, exactly how the layout step
    * parallelizes in practice. */
  def packSequences(t: Tables, seqLen: Long = PackSeqLen): DataFrame = {
    val base = t.documents
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("end_tok", sum("n_tokens").over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("end_tok") - col("n_tokens")).as("start_tok"),
        floor((col("end_tok") - col("n_tokens")) / seqLen).cast("long")
          .as("first_seq"),
        floor((col("end_tok") - 1) / seqLen).cast("long").as("last_seq"))
      .orderBy("source", "doc_id")
  }

  /** x30 the COMPLETE curation pipeline — x19's filter chain extended
    * with the round-5 signals, one deterministic status per document by
    * precedence: `exact_dup > benchmark > contaminated > too_short >
    * lang > low_quality > repetitive > boilerplate > near_dup > kept`.
    * Every signal is the same oracle-gated computation as its
    * standalone query (x01/x02/x03/x10/x16/x07/x26/x27); a user runs
    * the entire corpus-curation stage as ONE declarative query and
    * Catalyst schedules the branches.
    *
    * Scale shape = the union of its parts: one fused per-row pass
    * (tokens, language, quality, exact-dup window), plus the four
    * shuffling branches (2-gram repetition, LSH near-dup pairs,
    * benchmark decontamination, boilerplate doc-frequency) joined back
    * by doc_id — each branch individually verified linear at sf1.
    * Tokenization runs ONCE: every branch reads the same persisted
    * (docs + toks) table (round-6; asserted in Round6Spec). */
  def curationPipeline(t: Tables, minTokens: Long = 20,
                       langs: Seq[String] = Seq("en"),
                       minQuality: Double = 0.3, maxDupFrac: Double = 0.6,
                       nearDupJaccard: Double = 0.8,
                       maxBoilerFrac: Double = 0.5): DataFrame = {
    // The shared builders feed the fused per-row pass and all FOUR
    // shuffling branches (repetition, LSH near-dup, decontamination,
    // boilerplate) from ONE persisted (doc_id, text, toks) table —
    // previously the regex tokenize scan ran ~5x inside this single
    // query. (Measured dead end at sf1: ALSO persisting the hashed-
    // shingle table for the decontaminate/boilerplate pair costs MORE
    // than the duplicate subtrees it removes — their pushed-down doc_id
    // filters mean the bench side only explodes ~1/97 of docs, while a
    // shared cache pays full materialization and loses codegen fusion;
    // 18.5s → 22.5s. Shapes that look duplicated aren't always worth
    // materializing.)
    val b = curationBranches(t, nearDupJaccard)
    val cont = decontaminateFrom(b.td, DecontamMod)
      .select(col("doc_id"), col("n_hits"))
    val boiler = boilerplateFrom(b.td, BoilerMaxDocs)
      .select(col("doc_id"), col("boiler_frac"))
    val out = x30Status(b.base
      .join(b.rep, Seq("doc_id"), "left")
      .join(b.nearDups, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(boiler, Seq("doc_id"), "left"),
      minTokens, langs, minQuality, maxDupFrac, maxBoilerFrac)
    unpersistAfterFirstUse(out, b.td)
  }

  /** The x30 precedence chain over the assembled branch columns —
    * shared by [[curationPipeline]] and [[curationPipelineStaged]] so
    * the two forms can only differ in branch SCHEDULING, never in
    * status semantics. */
  private def x30Status(joined: DataFrame, minTokens: Long,
                        langs: Seq[String], minQuality: Double,
                        maxDupFrac: Double, maxBoilerFrac: Double)
  : DataFrame =
    joined
      .withColumn("status",
        when(col("hash_rank") > 1, "exact_dup")
          .when(col("doc_id") % DecontamMod === 0, "benchmark")
          .when(col("n_hits") > 0, "contaminated")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(not(col("pred_lang").isInCollection(langs)), "lang")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("dup2gram_frac") > maxDupFrac, "repetitive")
          .when(col("boiler_frac") > maxBoilerFrac, "boilerplate")
          .when(col("is_near_dup"), "near_dup")
          .otherwise("kept"))
      .select("doc_id", "status")
      .orderBy("doc_id")

  /** The bounded-PEAK-SCRATCH form of [[curationPipeline]] — byte-
    * identical statuses (Round9Spec pins it), different branch
    * scheduling: Catalyst evaluates the one-query form's shuffling
    * branches concurrently, so their shuffle spill is ADDITIVE on
    * local scratch — the r8 fifth leg DNF'd at 12M docs on ~77 GB,
    * and even after the round-9 row-local shingle refactor (which cut
    * the branches ~5x) the one-query form still sums past this box's
    * 83 GB at 12M. Here EACH heavy branch runs to completion alone
    * and collapses to per-doc flag rows pinned as an eager
    * localCheckpoint (markCheckpointed severs its shuffle deps); the
    * System.gc() after each stage is Spark's own periodicGC move,
    * taken at the moment it pays, letting ContextCleaner drop that
    * stage's shuffle files before the next stage spills. Peak scratch
    * becomes max(branch) + the shared tokenization, not sum(branches)
    * — the 12M per-branch probe measured LSH ~28 GB and
    * decontamination ~25 GB each, so the staged peak sits near 40 GB
    * where the one-query form needs >83 GB.
    *
    * The trade is lost inter-branch parallelism — measured on the
    * 1.25M/5M soak legs (SOAK_corpus.md round 9; at 5M the staged form
    * was actually FASTER, 288 vs 427 s, because each stage gets the
    * whole execution-memory pool); at the 12M wall it is the
    * difference between completing and not. */
  def curationPipelineStaged(t: Tables, minTokens: Long = 20,
                             langs: Seq[String] = Seq("en"),
                             minQuality: Double = 0.3,
                             maxDupFrac: Double = 0.6,
                             nearDupJaccard: Double = 0.8,
                             maxBoilerFrac: Double = 0.5): DataFrame = {
    // DISK_ONLY tokenization (round-11 12M finding — the 24 g memory
    // floor's ACTUAL cause): a MEMORY_AND_DISK td fills the unified
    // region's eviction-immune storage half (spark.memory.
    // storageFraction = 0.5), halving the execution pool for every
    // stage. In the ONE-heavy-stage-at-a-time staged schedule all 32
    // slots then run the SAME explode→partial-agg (decontamination's
    // ~36M-entry per-task maps at 12M/32 partitions) and the
    // aggregation fallback cannot acquire pages — the r10
    // AGGREGATE_OUT_OF_MEMORY at a 24 g driver, reproduced this round
    // with DISK_ONLY checkpoints alone (the blocks were never the
    // squatter). The plain form survives at 24 g because its
    // concurrent branches MIX heavy and light tasks per slot wave.
    // Streaming td from disk gives staged the same execution-pool
    // geometry at 24 g that the r10 48 g run had (~440 MB/task) and
    // matches the form's declared trade: bounded memory, pay disk.
    val b = curationBranches(t, nearDupJaccard,
      tdLevel = StorageLevel.DISK_ONLY)
    // ONE heavy branch per stage (round-9 12M finding): the 12M
    // per-branch probe measured LSH ~28 GB and decontamination ~25 GB
    // of transient scratch EACH — running them in one stage (the r8
    // two-stage split) still summed past the 83 GB box wall together
    // with the td persist. Materializing each alone bounds the peak at
    // max(branch) + td, and the System.gc() after each localCheckpoint
    // lets ContextCleaner reap that stage's shuffle files before the
    // next starts (markCheckpointed severs the RDD's shuffle deps).
    def staged(df: DataFrame): DataFrame = {
      // execute through a FRESH Dataset: localCheckpoint forces the
      // receiver's QueryExecution, and a caller-held branch frame
      // (b.nearDups) would pin the executed shuffle dependencies for
      // the rest of the pipeline, keeping ContextCleaner from reaping
      // the stage's files after the checkpoint severs the RDD lineage
      // (observed at 12M: the direct-reference form re-summed the
      // stages and hit the scratch wall the staging exists to avoid).
      // DISK_ONLY (round-10 12M soak finding): the default
      // MEMORY_AND_DISK checkpoint blocks of completed stages squat in
      // the unified storage region while LATER stages aggregate — at a
      // 24 g driver the decontamination stage died
      // AGGREGATE_OUT_OF_MEMORY under ~12 GB of stage-1 blocks it
      // could not evict fast enough. All three flag frames are read
      // exactly once (the final assembly join), so memory residency
      // buys nothing; on disk they cost sequential scratch reads and
      // the execution pool gets the whole region in every stage.
      val out = df.select(col("*")).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      System.gc()
      out
    }
    val s1a = staged(b.nearDups)
    val s1b = staged(decontaminateFrom(b.td, DecontamMod)
      .select(col("doc_id"), col("n_hits")))
    val s2 = staged(b.rep
      .join(boilerplateFrom(b.td, BoilerMaxDocs)
        .select(col("doc_id"), col("boiler_frac")), Seq("doc_id"), "full_outer"))
    // final assembly: the fused per-row pass + exact-dup window joins
    // the three checkpointed flag frames — the only remaining shuffle
    val out = x30Status(b.base
      .join(s2, Seq("doc_id"), "left")
      .join(s1a, Seq("doc_id"), "left")
      .join(s1b, Seq("doc_id"), "left"),
      minTokens, langs, minQuality, maxDupFrac, maxBoilerFrac)
    unpersistAfterFirstUse(out, b.td)
  }

  // ---- x37 Gopher-style rule filter --------------------------------------

  /** x37 rule thresholds — the Gopher repetition/quality rule suite
    * (Rae et al., "Scaling Language Models: Methods, Analysis &
    * Insights from Training Gopher", 2021, Table A1), with the numeric
    * cuts re-centred on this corpus's token-soup distribution (10–99
    * whitespace tokens, all-lowercase vocabulary) so every rule has
    * real selectivity instead of degenerating to all-true. */
  private val GopherMinTokens = 20L
  private val GopherMaxTokens = 80L
  private val GopherMinMeanLen = 3.2
  private val GopherMaxMeanLen = 5.5
  private val GopherMaxTopFrac = 0.125
  private val GopherMinStopHits = 2L
  private val GopherMaxShortFrac = 0.15

  /** x37 Gopher-rule quality filter: per document, one boolean per
    * rule — token count in range, mean token length in range, top
    * single-token fraction below cut (the word-level repetition rule),
    * total stopword hits above floor, single-character-token fraction
    * below cut (the symbol-ratio analog) — plus the failed-rule count
    * and the all-rules verdict.
    *
    * Scale shape: pure per-row projection, zero shuffles (the final
    * ORDER BY is gate convention). The top-token fraction is computed
    * WITHIN the row by nested higher-order functions (distinct-value
    * scan per token list, O(n·d) on ≤100-token docs) rather than a
    * corpus-wide (doc_id, token) groupBy — the same signal x16 gets
    * from a shuffle, traded here for codegen-fused row-local work so
    * the whole rule suite stays one narrow scan at any corpus size. */
  def gopherRules(t: Tables): DataFrame = {
    val toks = col("toks")
    val n = size(toks).cast("double")
    val meanLen = expr("aggregate(toks, 0L, (a, x) -> a + length(x))")
      .cast("double") / n
    // top token count as the longest run in the SORTED list — one
    // O(n log n) sort + one linear fold per row. The obvious nested
    // HOF (transform(distinct, d -> size(filter(toks, = d)))) is
    // O(n·d) AND interpreted (HigherOrderFunction is CodegenFallback),
    // which the 1.25M-doc soak measured at 496 s vs ~25 s for every
    // neighboring per-row pass — quadratic per-row work dominates even
    // at 100-token docs once the corpus is large (SOAK_corpus.md).
    val topCount = expr(
      """aggregate(array_sort(toks),
           named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
           (a, x) -> named_struct(
             'prev', x,
             'run', IF(x <=> a.prev, a.run + 1L, 1L),
             'best', GREATEST(a.best, IF(x <=> a.prev, a.run + 1L, 1L))),
           a -> a.best)""")
    val topFrac = topCount.cast("double") / n
    val stopHits = Stopwords.map { case (_, w) => stopwordHits(toks, w) }
      .reduce(_ + _).cast("long")
    val shortFrac = size(filter(toks, x => length(x) <= 1)).cast("double") / n
    val rules = Seq(
      "r_wc" -> (size(toks) >= GopherMinTokens &&
        size(toks) <= GopherMaxTokens),
      "r_len" -> (meanLen >= GopherMinMeanLen &&
        meanLen <= GopherMaxMeanLen),
      "r_rep" -> (topFrac <= GopherMaxTopFrac),
      "r_stop" -> (stopHits >= GopherMinStopHits),
      "r_short" -> (shortFrac <= GopherMaxShortFrac))
    val nFail = rules.map { case (_, c) =>
      when(c, 0L).otherwise(1L)
    }.reduce(_ + _)
    // CPU-amplifying per-row pass (tokenize + sort + folds) → widen an
    // under-split scan before it; without this the 5M soak ran the
    // whole rule suite on the ~5 byte-range splits of one parquet file
    withToks(graft.core.Fanout.widen(t.documents))
      .filter(size(toks) > 0)
      .select(col("doc_id") +: size(toks).cast("long").as("n_tokens") +:
        rules.map { case (nm, c) => c.as(nm) } :+
        nFail.as("n_fail") :+ (nFail === 0).as("pass"): _*)
      .orderBy("doc_id")
  }

  // ---- x38 URL canonicalization + per-domain caps ------------------------

  /** x38 cap: max documents kept per registered domain. */
  private val DomainCap = 10L
  private val UrlStripSchemeRe = "^https?://"
  private val UrlStripWwwRe = "^www\\."
  private val UrlStripQueryRe = "[?#].*$"
  private val UrlHostRe = "^[^/]+"

  /** x38 per-domain caps over canonicalized URLs — the Common-Crawl
    * curation move (RefinedWeb / C4): messy source URLs are
    * canonicalized (case-fold, scheme and `www.` stripped, query and
    * fragment dropped), the registered host is extracted, and each
    * domain keeps at most [[DomainCap]] documents in doc_id order so
    * no single site dominates the mixture.
    *
    * The fixture corpus has no URL column, so the gate plants
    * deterministic messy URLs from `doc_id` (scheme, WWW-casing, and
    * query-string presence all vary by residue — the SAME injection
    * expression runs in the oracle), exactly the x34 PII pattern.
    *
    * Scale shape: per-row canonicalization (four chained regexes, all
    * codegen'd) + ONE window PARTITIONED BY domain — the natural shard
    * key of a crawl; per-domain occurrence lists are the semantic unit,
    * never a global order. A mega-domain is bounded by the cap itself:
    * rank ≤ cap short-circuits everything downstream of the window. */
  def domainCaps(t: Tables, cap: Long = DomainCap): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, "https://").otherwise("http://"),
      when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
      lit("Host"), (col("doc_id") % 40).cast("string"),
      lit(".Example.com/p/"), col("doc_id").cast("string"),
      when(col("doc_id") % 4 === 0, "?utm_source=feed").otherwise(""))
    val canon = regexp_replace(
      regexp_replace(
        regexp_replace(lower(url), UrlStripSchemeRe, ""),
        UrlStripWwwRe, ""),
      UrlStripQueryRe, "")
    val domain = regexp_extract(canon, UrlHostRe, 0)
    t.documents
      .select(col("doc_id"), canon.as("canon_url"), domain.as("domain"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy("domain").orderBy("doc_id"))
          .cast("long"))
      .withColumn("kept", col("rnk") <= cap)
      .orderBy("doc_id")
  }

  // ---- x39 hashed-bigram LM cross-entropy --------------------------------

  /** x39/x40 language-model knobs: hashed-feature vocabulary and the
    * in-domain training slice (the `source = src0` documents — the
    * "target Wikipedia" of the CCNet recipe). */
  private val LmBuckets = 1024L
  private val LmTarget = "src0"

  /** Per-occurrence hashed bigram buckets of `docs` — the shared grain
    * of the x39/x40 model fit and scoring passes: one row per bigram
    * occurrence with the context bucket `cb` (first token) and the
    * bigram bucket `bb`. Widened HERE (not at the callers) so every
    * entry into the bigram explode carries the scan-parallelism guard:
    * the 12M models soak caught direct `lmScore` callers running the
    * explode on one file's worth of splits (433 s vs the gate's 320 s
    * — the gate happened to widen before filtering). */
  private def bigramOcc(docs: DataFrame): DataFrame =
    withToks(graft.core.Fanout.widen(docs))
      .select(col("doc_id"), explode(wordShingles(col("toks"), 2)).as("s"))
      .select(col("doc_id"),
        (hash60(substring_index(col("s"), " ", 1)) % LmBuckets).as("cb"),
        (hash60(col("s")) % LmBuckets).as("bb"))

  /** Fit-once hashed-bigram LM — the two persisted count tables of the
    * x39/x40 conditional model (the build-once DedupIndex/PqIndex
    * pattern applied to the LM family): `ctx(cb, c1)` context totals
    * (≤ [[LmBuckets]] rows) and `mdl(cb, bb, c12)` bigram totals
    * (≤ [[LmBuckets]]² rows worst-case, in practice min(distinct
    * bigrams, that)) — both corpus-size-independent and broadcast to
    * every scoring join. A production pipeline fits this ONCE on the
    * in-domain slice and scores every later batch through [[lmScore]];
    * the x39/x40 gate forms are build + one scoring pass + release —
    * one code path, no drift (the x61/x62 discipline). */
  final case class LmModel(ctx: DataFrame, mdl: DataFrame) {
    def release(): Unit = {
      ctx.unpersist(blocking = false); mdl.unpersist(blocking = false)
    }
  }

  /** Fit the [[LmModel]] on a training frame (`doc_id`, `text`):
    * tokenize → bigram buckets → two map-side-combined count tables,
    * persisted and materialized. Cost is ONE pass over the training
    * slice, paid once. */
  def buildLmModel(train: DataFrame): LmModel = {
    val occ = bigramOcc(train)
    val mdl = occ.groupBy("cb", "bb").agg(count(lit(1)).as("c12")).persist()
    mdl.count()
    // r13 optimization (guide §1.2 step 1 — don't compute things twice):
    // the context totals are exactly the bigram totals re-grouped —
    // c1(cb) = Σ_bb c12(cb, bb), both counting the same occ rows — so
    // derive ctx from the ALREADY-persisted ≤buckets²-row mdl instead
    // of re-running the tokenize+shingle+2×md5 pass (and its shuffle)
    // over the train slice a second time. Counts are exact longs; no
    // float-order channel. GopherLmSpec pins ctx == the direct groupBy.
    val ctx = mdl.groupBy("cb").agg(sum("c12").as("c1")).persist()
    ctx.count()
    LmModel(ctx, mdl)
  }

  /** Persist an [[LmModel]] as parquet (the savePqIndex analog): two
    * tiny tables, session-independent. */
  def saveLmModel(m: LmModel, path: String): Unit = {
    m.ctx.write.mode("overwrite").parquet(s"$path/ctx.parquet")
    m.mdl.write.mode("overwrite").parquet(s"$path/mdl.parquet")
  }

  /** Load a [[saveLmModel]] artifact, persisted and materialized. */
  def loadLmModel(spark: org.apache.spark.sql.SparkSession,
                  path: String): LmModel = {
    val ctx = spark.read.parquet(s"$path/ctx.parquet").persist()
    val mdl = spark.read.parquet(s"$path/mdl.parquet").persist()
    ctx.count(); mdl.count()
    LmModel(ctx, mdl)
  }

  /** Score a document frame under a fitted [[LmModel]]: per-document
    * cross-entropy (add-1 smoothing over [[LmBuckets]]) —
    * (doc_id, n_bigrams, ce) for every doc with ≥1 bigram; `ce` is
    * rounded to 6 (the gate's cross-engine float discipline). One
    * tokenize pass into map-side-combined (doc, bucket-pair) counts,
    * two broadcast joins against the model, one per-doc agg. */
  def lmScore(m: LmModel, docs: DataFrame): DataFrame =
    bigramOcc(docs)
      .groupBy("doc_id", "cb", "bb")
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(m.mdl), Seq("cb", "bb"), "left")
      .join(broadcast(m.ctx), Seq("cb"), "left")
      .withColumn("lp",
        log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
            (coalesce(col("c1"), lit(0L)) + lit(LmBuckets.toDouble))))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        round(-sum(col("cnt") * col("lp")) / sum("cnt"), 6).as("ce"))

  /** Per-document hashed-bigram cross-entropy under an add-1-smoothed
    * conditional model trained on the [[LmTarget]] slice — shared by
    * x39 (scores) and x40 (partition); build + score + release through
    * the fit-once [[LmModel]] path. */
  private def bigramCe(t: Tables): DataFrame = {
    // no widen here: bigramOcc carries the guard (a second widen would
    // re-trigger on the files<cores check and stack a dead exchange)
    val docs = t.documents
    val m = buildLmModel(docs.filter(col("source") === LmTarget))
    val out = lmScore(m, docs.filter(col("source") =!= LmTarget))
    unpersistAfterFirstUse(unpersistAfterFirstUse(out, m.ctx), m.mdl)
  }

  /** x39 CCNet-style LM filter signal (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", 2020): per-document cross-entropy (and perplexity) under a
    * hashed-bigram LM with add-1 smoothing, trained on the in-domain
    * [[LmTarget]] slice, scored over the rest of the corpus — the
    * signal CCNet gets from KenLM, re-expressed as two bounded count
    * tables. Distinct from x36: DSIR is a bag-of-ngrams importance
    * RATIO (target vs raw marginals); this is a CONDITIONAL
    * p(w₂|w₁) model and an interpretable per-doc perplexity.
    *
    * Scale shape: one tokenize+explode pass into map-side-combined
    * (doc, bucket-pair) counts; the model fit reduces to ≤[[LmBuckets]]²
    * rows broadcast back onto the same counts; one final per-doc
    * aggregation. Model state is O(buckets²) regardless of corpus
    * size; nothing driver-side. */
  def bigramPerplexity(t: Tables): DataFrame =
    bigramCe(t)
      .withColumn("ppl", round(exp(col("ce")), 6))
      .orderBy("doc_id")

  /** x40 CCNet head/middle/tail partition: the scored corpus is cut at
    * the exact cross-entropy terciles into the three CCNet buckets
    * (head = best-fitting third). The thresholds are ONE exact
    * `percentile` reduction to two scalars broadcast back over the
    * scores — no global window, no sort of the corpus.
    *
    * Tercile fractions are written as 1.0/3-style divisions so both
    * engines fold the same IEEE doubles; `ce` is pre-rounded to 6 by
    * [[bigramCe]], so threshold comparisons see identical values on
    * both sides (the q38 exact-percentile discipline). */
  def pplPartition(t: Tables): DataFrame = {
    val ce = bigramCe(t)
    val cuts = ce.agg(
      expr("percentile(ce, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))")
        .as("p"))
      .select(col("p").getItem(0).as("t1"), col("p").getItem(1).as("t2"))
    ce.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("ce"),
        when(col("ce") <= col("t1"), "head")
          .when(col("ce") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  // ---- x41 reciprocal-rank fusion ----------------------------------------

  /** RRF constant (Cormack et al. 2009's k=60) and list sizes. */
  private val RrfK = 60L
  private val RrfOut = 20

  /** x41 reciprocal-rank fusion — the standard hybrid-retrieval merge
    * (Cormack, Clarke & Buettcher, SIGIR 2009): two rankers score the
    * same query terms (x32's BM25 and a length-normalized TF-IDF — two
    * scorers with genuinely different rank behavior), each contributes
    * 1/(k + rank) for its top-[[Bm25TopK]] list, absent-from-a-list
    * contributes nothing, fused list re-ranked by the sum.
    *
    * Scale shape: both rankers end in TakeOrdered top-30; ranks are
    * then computed WITHOUT a window by a strictly-better-count self
    * join over the ≤30-row broadcast frames (the PlanSpec global-window
    * sweep stays clean — rank-over-top-k never touches the corpus).
    * Everything upstream is x32's shape: one narrow term-filtered
    * corpus pass, broadcast df/stats. */
  def rrfFusion(t: Tables): DataFrame = {
    val f = retrievalFrames(t)
    val tfidf = f.tf
      .join(broadcast(f.df), "tok")
      .join(f.dl, "doc_id")
      .crossJoin(broadcast(f.stats))
      .select(col("doc_id"),
        ((col("tf").cast("double") / col("dl")) *
          log((col("n_docs").cast("double") + 1.0) / (col("df") + 1.0))).as("c"))
      .groupBy("doc_id").agg(round(sum("c"), 6).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"))
      .limit(Bm25TopK)
    // window-free rank: 1 + |strictly better rows| over a top-k frame
    // (scores pre-rounded to 6, doc_id tiebreak — a total order, so
    // this equals ROW_NUMBER over (score DESC, doc_id))
    def rankOf(top: DataFrame, score: String, as: String): DataFrame = {
      val a = top.select(col("doc_id"), col(score).as("s"))
      val b = a.select(col("doc_id").as("od"), col("s").as("os"))
      a.join(broadcast(b),
          col("os") > col("s") ||
            (col("os") === col("s") && col("od") < col("doc_id")), "left")
        .groupBy("doc_id").agg((count(col("od")) + 1L).as(as))
    }
    rankOf(bm25TopK(t), "bm25", "r_bm25")
      .join(rankOf(tfidf, "tfidf", "r_tfidf"), Seq("doc_id"), "full")
      .select(col("doc_id"), col("r_bm25"), col("r_tfidf"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_tfidf")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(RrfOut)
  }

  // ---- x42 delta dedup (incremental ingestion) ---------------------------

  /** Every `DeltaMod`-th doc_id plays the newly-ingested batch. */
  private val DeltaMod = 10L

  /** A built standing-corpus dedup index — the build-once/ingest-many
    * artifact of [[deltaDedup]] (the buildIvfIndex pattern): `fp` is
    * the (fingerprint → min surviving doc_id) exact table, `bands` the
    * banded DISTINCT-SimHash representatives (the x57 rep-grain
    * collapse, prescribed by the 12M soak: bag-identical docs share
    * sim, hence bands and ham, so one min-doc_id rep per distinct sim
    * leaves `near_id` exactly unchanged while cutting candidate volume
    * by the bag-duplicity factor — ~2,160× at the 12M fixture). Both
    * frames are persisted by [[buildDedupIndex]]; callers own the
    * release. In production these ARE the materialized tables a
    * pipeline keeps between ingests — per batch, the corpus is never
    * re-fingerprinted, never re-banded, never self-joined.
    *
    * The streaming operators read the index through its [[DedupProbe]]:
    * built on first use by one driver collect of `fp` and one of
    * `bands`, broadcast once, and immutable for the life of this index
    * version (an [[absorbDelta]]'d index is a new version with its own
    * probe). Memory, for F `fp` rows and B `bands` rows: the driver
    * holds the collected rows while it builds (~[[ProbeFpRowBytes]]·F
    * + [[ProbeBandRowBytes]]·B bytes, checked before collecting against
    * `spark.driver.maxResultSize` — past it the build throws
    * [[ProbeTooLargeException]]), then the probe itself on the driver
    * and once per executor: 24·F + 16·B bytes plus a 512 KB bucket
    * offset table. The batch [[deltaDedupAgainst]] never builds it. */
  final case class DedupIndex(fp: DataFrame, bands: DataFrame) {
    @volatile private var built: Option[Broadcast[DedupProbe]] = None

    /** This version's probe, built and broadcast on first call. */
    def probe: Broadcast[DedupProbe] = synchronized {
      built.getOrElse {
        val sc = fp.sparkSession.sparkContext
        val b = sc.broadcast(DedupProbe.build(this,
          sc.getConf.getSizeAsBytes(ProbeLimitSetting, "1g")))
        built = Some(b)
        b
      }
    }

    /** Unpersist both frames and destroy the probe's broadcast, if
      * one was built. Stop the queries reading this index first; a
      * later streaming use builds a fresh probe. */
    def release(): Unit = synchronized {
      built.foreach(_.destroy())
      built = None
      fp.unpersist(blocking = false)
      bands.unpersist(blocking = false)
    }
  }

  /** The setting that bounds a [[DedupProbe]] build (0 = no bound, as
    * it means for Spark's own collects). */
  private val ProbeLimitSetting = "spark.driver.maxResultSize"
  /** Driver bytes per collected `fp` row (a 32-char md5 string and a
    * boxed id in a tuple) and per collected `bands` row (three boxed
    * longs in a tuple) while a probe builds. */
  private[graft] val ProbeFpRowBytes = 120L
  private[graft] val ProbeBandRowBytes = 80L

  /** A [[DedupProbe]] build refused before collecting: the index's
    * rows would not fit the bound the setting gives. */
  final class ProbeTooLargeException(msg: String)
    extends IllegalStateException(msg)

  /** Throw [[ProbeTooLargeException]] when `fpRows` fp and `bandRows`
    * band rows, collected, would exceed `limitBytes` (0 = no bound). */
  private[graft] def checkProbeBound(fpRows: Long, bandRows: Long,
                                     limitBytes: Long, setting: String): Unit = {
    val estimate = fpRows * ProbeFpRowBytes + bandRows * ProbeBandRowBytes
    if (limitBytes > 0 && estimate > limitBytes)
      throw new ProbeTooLargeException(
        s"DedupIndex probe too large: $fpRows fp rows and $bandRows band rows " +
          s"collect to ~$estimate bytes, over $setting = $limitBytes bytes")
  }

  /** The streaming read side of a [[DedupIndex]]: the fp → `corpus_id`
    * map as md5 halves sorted for binary search, and every band
    * bucket's candidates as parallel `sim`/`doc_id` slices sorted by
    * `doc_id`, indexed by the dense bucket id `(b << SimBandBits) |
    * key`. [[nearId]] is the join formulation's min Hamming-matching
    * `doc_id` over a doc's buckets; a sorted bucket scan stops at its
    * first match, or once its ids pass the best found so far. */
  final class DedupProbe private (fpHi: Array[Long], fpLo: Array[Long],
      fpIds: Array[Long], starts: Array[Int], sims: Array[Long],
      ids: Array[Long]) extends Serializable {

    def fpRows: Int = fpIds.length
    def bandRows: Int = ids.length

    /** The corpus survivor of fingerprint `fp` (an md5 hex), if any. */
    def corpusId(fp: String): Option[Long] =
      if (fp == null) None
      else {
        val (hi, lo) = DedupProbe.halves(fp)
        var l = 0
        var r = fpIds.length - 1
        var hit = -1
        while (hit < 0 && l <= r) {
          val m = (l + r) >>> 1
          val c = DedupProbe.compare(fpHi(m), fpLo(m), hi, lo)
          if (c == 0) hit = m else if (c < 0) l = m + 1 else r = m - 1
        }
        if (hit < 0) None else Some(fpIds(hit))
      }

    /** The smallest candidate `doc_id` within `maxHamming` of `sim` in
      * any of its band buckets, if any. */
    def nearId(sim: Long, maxHamming: Int): Option[Long] = {
      var best = Long.MaxValue
      var found = false
      for (b <- 0 until SimBands) {
        val bucket = (b << SimBandBits) | ((sim >> (b * SimBandBits)) & SimBandMask).toInt
        var i = starts(bucket)
        val end = starts(bucket + 1)
        while (i < end && (!found || ids(i) < best)) {
          if (java.lang.Long.bitCount(sims(i) ^ sim) <= maxHamming) {
            best = ids(i); found = true; i = end
          } else i += 1
        }
      }
      if (found) Some(best) else None
    }
  }

  object DedupProbe {
    private def halves(fp: String): (Long, Long) =
      (java.lang.Long.parseUnsignedLong(fp, 0, 16, 16),
        java.lang.Long.parseUnsignedLong(fp, 16, 32, 16))

    /** Unsigned order of md5 halves: the order of their lowercase hex. */
    private def compare(h1: Long, l1: Long, h2: Long, l2: Long): Int = {
      val c = java.lang.Long.compareUnsigned(h1, h2)
      if (c != 0) c else java.lang.Long.compareUnsigned(l1, l2)
    }

    /** Collect `index` into a probe, refusing past `limitBytes`. */
    private[operators] def build(index: DedupIndex, limitBytes: Long): DedupProbe = {
      val spark = index.fp.sparkSession
      import spark.implicits._
      checkProbeBound(index.fp.count(), index.bands.count(), limitBytes,
        ProbeLimitSetting)
      // `fp` is TextFunctions.fingerprint's lowercase md5 hex, so the
      // string order is the halves' unsigned order
      val fps = index.fp.select("fp", "corpus_id").as[(String, Long)].collect()
        .sortBy(_._1)
      val fpHalves = fps.map(f => halves(f._1))
      val cands = index.bands
        .select(shiftleft(col("b").cast("long"), SimBandBits).bitwiseOR(col("key")).as("bucket"),
          col("doc_id"), col("sim"))
        .as[(Long, Long, Long)].collect()
        .sortBy(c => (c._1, c._2))
      val starts = new Array[Int]((SimBands << SimBandBits) + 1)
      cands.foreach(c => starts(c._1.toInt + 1) += 1)
      for (i <- 1 until starts.length) starts(i) += starts(i - 1)
      new DedupProbe(fpHalves.map(_._1), fpHalves.map(_._2), fps.map(_._2),
        starts, cands.map(_._3), cands.map(_._2))
    }
  }

  /** Build the standing index from a corpus frame (needs `doc_id`,
    * `text`): one fingerprint projection + one distinct-SimHash band
    * table, both linear, both persisted. */
  def buildDedupIndex(corpus: DataFrame): DedupIndex = {
    val fp = corpus
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("corpus_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bands = simBands(
      simhashDf(corpus)
        .groupBy("sim").agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), col("sim")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    DedupIndex(fp, bands)
  }

  /** Dedup a delta batch (needs `doc_id`, `text`) against a built
    * index and within itself — the query half of [[deltaDedup]]. Cost
    * per ingest is O(delta + matches): the index side is consumed
    * as-is, only the delta is fingerprinted/SimHashed/banded. */
  def deltaDedupAgainst(index: DedupIndex, delta: DataFrame): DataFrame = {
    val deltaFp = delta.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val firstDelta = deltaFp.groupBy("fp").agg(min("doc_id").as("first_delta"))
    val near = simBands(simhashDf(delta)).as("d")
      .join(index.bands.as("c"),
        col("d.b") === col("c.b") && col("d.key") === col("c.key") &&
          bit_count(col("d.sim").bitwiseXOR(col("c.sim"))) <= 6)
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(min(col("c.doc_id")).as("near_id"))
    deltaFp
      .join(index.fp, Seq("fp"), "left")
      .join(firstDelta, "fp")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("corpus_id").isNotNull, "exact_dup_corpus")
          .when(col("doc_id") > col("first_delta"), "exact_dup_delta")
          .when(col("near_id").isNotNull, "near_dup_corpus")
          .otherwise("new").as("status"),
        when(col("corpus_id").isNotNull, col("corpus_id"))
          .when(col("doc_id") > col("first_delta"), col("first_delta"))
          .otherwise(col("near_id")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** Fold an ingested delta into the index, emitting the updated
    * index for the NEXT batch — incremental, O(delta): only
    * fingerprints/sims the index has not seen are appended, keyed to
    * the delta's own first occurrence. This equals a from-scratch
    * rebuild over corpus+delta when delta ids exceed corpus ids (the
    * ingestion-stream invariant: ids are assigned in arrival order);
    * for out-of-order ids the rebuild could elect a different —
    * equally valid — survivor for an already-indexed key, which
    * absorb deliberately does NOT do (survivors stay stable across
    * ingests, the property downstream `dup_of` consumers want). The
    * returned frames are persisted; releasing the input index after
    * the first materialization of the new one is the caller's choice
    * (they share no storage). */
  def absorbDelta(index: DedupIndex, delta: DataFrame): DedupIndex = {
    val newFp = delta
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("corpus_id"))
      .join(index.fp.select("fp"), Seq("fp"), "left_anti")
    val newBands = simBands(
      simhashDf(delta)
        .groupBy("sim").agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), col("sim")))
      .join(index.bands.select(col("sim")).distinct(), Seq("sim"), "left_anti")
      // a using-column join surfaces the key FIRST; re-project before
      // the positional union (caught by Round9Spec: sim landed in
      // doc_id and the appended reps never matched)
      .select(col("doc_id"), col("sim"), col("b"), col("key"))
    DedupIndex(
      index.fp.union(newFp).persist(StorageLevel.MEMORY_AND_DISK),
      index.bands.union(newBands).persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** x42 delta dedup — the INCREMENTAL production shape of the dedup
    * family: a new batch (`doc_id % mod = 0`, ~10% of the fixture) is
    * deduplicated AGAINST the standing corpus and within itself,
    * without ever re-pairing the corpus with itself (which x01/x13
    * style full-corpus passes would do on every ingest — unaffordable
    * at 100 TB). Per delta doc, one status by precedence:
    * `exact_dup_corpus` (normalized fingerprint already in the corpus)
    * > `exact_dup_delta` (an earlier delta doc has the fingerprint)
    * > `near_dup_corpus` (SimHash ham≤6 banded match in the corpus)
    * > `new`; `dup_of` names the surviving doc (NULL for `new`).
    *
    * Scale shape: corpus work is ONE fingerprint projection + one
    * band-table build (both linear, both the standing index a real
    * pipeline would keep materialized); the delta side joins INTO
    * those — cost per ingest is O(delta + matches), not O(corpus²).
    * The banded join shuffles on the 15-bit band key exactly like x13;
    * duplicity blowup cannot occur because the corpus side never
    * self-joins. */
  def deltaDedup(t: Tables, mod: Long = DeltaMod): DataFrame = {
    val docs = graft.core.Fanout.widen(t.documents)
    val index = buildDedupIndex(docs.filter(col("doc_id") % mod =!= 0))
    val out = deltaDedupAgainst(index, docs.filter(col("doc_id") % mod === 0))
    unpersistAfterFirstUse(unpersistAfterFirstUse(out, index.fp), index.bands)
  }

  // ---- x43 temperature-scaled mixture weights ----------------------------

  /** Sampling temperature (the α of mT5/GPT-3 multinomial mixing;
    * Raffel et al. 2020 §3.4.1 use α∈[0.3,1], Brown et al. 2020 mix
    * CommonCrawl/WebText/Books/Wikipedia with exactly this shape). */
  private val MixAlpha = 0.7

  /** x43 temperature-scaled source mixture weights — the third member
    * of the corpus-balancing family, distinct from x38 (hard per-domain
    * caps) and x36 (per-document importance ratios): per SOURCE,
    * sampling probability p_α ∝ n_tokens^α, which up-weights small
    * high-value sources relative to their raw token share (α<1 flattens
    * the distribution; α=1 recovers p_raw). `boost` = p_α/p_raw is the
    * effective epoch multiplier each source would see in a token-budget
    * training run.
    *
    * Scale shape: one tokenize pass into a map-side-combined per-source
    * count (≤ |sources| rows), one scalar reduction broadcast back.
    * Nothing is ever bigger than the source list after the first agg —
    * at 100 TB this is a single linear scan. */
  def mixtureWeights(t: Tables, alpha: Double = MixAlpha): DataFrame = {
    val per = t.documents
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val tot = per.agg(
      sum("n_tokens").as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), alpha)).as("tot_alpha"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6)
          .as("p_raw"),
        round(pow(col("n_tokens").cast("double"), alpha) / col("tot_alpha"), 6)
          .as("p_alpha"),
        round((pow(col("n_tokens").cast("double"), alpha) / col("tot_alpha")) /
          (col("n_tokens").cast("double") / col("tot_tokens")), 6).as("boost"))
      .orderBy("source")
  }

  // ---- x63 mixture materialization ----------------------------------------

  /** Salt for x63's deterministic Bernoulli coin (the x54 idiom: a
    * value-hash in [0, 10⁶) compared against the fractional epoch in
    * micro-units — both sides integer, so the two engines never
    * compare drifting doubles). */
  private val MixCoinSalt = "mix_"

  /** x63 mixture materialization — x43's weights APPLIED, the step a
    * token-budget training run actually executes (GPT-3's Table 2.2
    * "epochs elapsed when training" column; Raffel et al. 2020 §3.4.1):
    * each source's `boost` (= p_α/p_raw, the effective epoch
    * multiplier) becomes per-document copy counts, `⌊boost⌋` whole
    * epochs plus one more with probability frac(boost) decided by a
    * deterministic per-document value hash. Sources with boost < 1 are
    * DOWN-sampled (⌊boost⌋ = 0, docs kept with probability boost);
    * sources with boost > 1 are repeated. Output is one row per
    * (document, epoch) — the materialized mixture a packing/sharding
    * stage (x29/x48) consumes — so the expected token share of every
    * source lands on x43's p_α target.
    *
    * Distinct from x24 (quality-weighted Bernoulli THIN of single
    * docs), x28 (budget fill best-first within a source), and x48
    * (shard assignment of kept docs): this is the only op that can
    * EMIT MORE THAN ONE COPY, which is what "2.9 epochs of Wikipedia"
    * means in a mixture card.
    *
    * Scale shape: x43's weight table (≤ |sources| rows) broadcast onto
    * one linear scan; the coin and copy count are row-local; the
    * explode multiplies rows by the epoch factor — inherent to
    * materialization (it IS the output), never more than Σ boost·|src|
    * rows. No shuffle beyond x43's own two-row reduction. */
  def mixtureMaterialize(t: Tables, alpha: Double = MixAlpha): DataFrame = {
    val w = mixtureWeights(t, alpha).select("source", "boost")
    val coin =
      hash60(concat(lit(MixCoinSalt), col("doc_id").cast("string"))) %
        lit(1000000L)
    val fracMicro =
      round((col("boost") - floor(col("boost"))) * lit(1e6)).cast("long")
    graft.core.Fanout.widen(t.documents)
      .select(col("doc_id"), col("source"))
      .join(broadcast(w), "source")
      .select(col("doc_id"), col("source"),
        (floor(col("boost")).cast("long") +
          when(coin < fracMicro, 1L).otherwise(0L)).as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("n_copies"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  // ---- x64 sequence packing ------------------------------------------------

  /** Tokens per packed training sequence (fixture-scaled; production
    * runs use the model context, 2048–8192). */
  private val SeqPackLen = 64

  /** Independent packing shards. Sharding IS the scale story: each
    * shard packs alone, so the running-total window never sees more
    * than ~1/nShards of the corpus in one ordered partition. A 100 TB
    * run sets this to its output-shard count (thousands). */
  private val PackShards = 8

  /** Salt for x64's deterministic shuffle key (distinct from
    * [[MixCoinSalt]] so packing order and mixture coins decorrelate). */
  private val PackSalt = "pack_"

  /** x64 sequence packing — the concat-and-chunk step that turns kept
    * documents into the fixed-length training sequences an LM consumes
    * (GPT-2/3 pack documents back-to-back into context-length windows;
    * T5 §2.2 "pack multiple ... into each entry"): documents are laid
    * end-to-end in a deterministic pseudo-random order (a value-hashed
    * shuffle — training-order randomization that both engines can
    * reproduce), the token stream is cut every `seqLen` tokens, and
    * each document reports which sequences it lands in and how many of
    * its tokens each one holds (documents split across a boundary —
    * the standard trade against padding waste).
    *
    * Distinct from x29 (which reports each doc's first/last sequence
    * under WITHIN-SOURCE doc_id order — a per-doc summary of the
    * as-ingested layout) in both the order and the grain: training
    * wants documents SHUFFLED (consecutive same-source docs correlate
    * batches), and downstream attribution/provenance wants the
    * per-SEQUENCE manifest — one row per (doc, sequence) with the
    * exact token allocation, the table that answers "which documents
    * compose training sequence N and with how many tokens". Also
    * distinct from x48 (shard assignment of whole docs, no order or
    * splitting) and x63 (epoch copy counts — how OFTEN a doc appears,
    * not where; a real pipeline runs x63 → this).
    *
    * Scale shape: one tokenize pass for counts (the text itself never
    * moves — only (doc_id, n_tok) rows shuffle), one hash-partitioned
    * running-total window per shard (each shard packs independently —
    * the global-order cumsum that would serialize the corpus is
    * exactly what the shard key removes), then a row-local explode of
    * ≤ n_tok/seqLen+1 span rows per doc. Nothing corpus-global
    * anywhere. */
  def sequencePack(t: Tables, seqLen: Int = SeqPackLen,
                   nShards: Int = PackShards): DataFrame = {
    val keyed = graft.core.Fanout.widen(t.documents)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("shuf",
        hash60(concat(lit(PackSalt), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("shuf"), lit(nShards.toLong)).cast("int"))
    val w = Window.partitionBy("shard").orderBy("shuf", "doc_id")
    graft.core.Fanout.widen(keyed)
      .withColumn("endp", sum("n_tok").over(w))
      .withColumn("startp", col("endp") - col("n_tok"))
      // integer div, not floor(double /): exact at any cumsum magnitude
      .select(col("doc_id"), col("shard"), col("startp"), col("endp"),
        explode(sequence(expr(s"startp div $seqLen"),
          expr(s"(endp - 1) div $seqLen"))).as("seq_id"))
      .select(col("doc_id"), col("shard"), col("seq_id"),
        (least(col("seq_id") * seqLen + seqLen, col("endp")) -
          greatest(col("seq_id") * seqLen, col("startp"))).as("tok_in_seq"))
      .orderBy("shard", "seq_id", "doc_id")
  }

  // ---- x44 duplicate-span fraction ----------------------------------------

  /** Window width for the exact-substring duplication signal (Lee et
    * al. 2022 use 50 BPE tokens; 8 whitespace tokens is the fixture-
    * scaled analog — wide enough that chance collisions vanish). */
  private val DupSpanW = 8

  /** x44 duplicate-span fraction — the per-document signal of exact
    * substring-level duplication (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", 2022): every POSITIONAL
    * w-token window is hashed, a window is duplicated if its hash
    * occurs ≥2 times anywhere in the corpus (other docs OR a repeat
    * within the same doc — both are verbatim-memorization risks), and
    * each doc reports its window count, duplicated-window count, and
    * fraction. Distinct from x27 (DISTINCT 3-gram shingles vs a
    * doc-frequency threshold — a boilerplate signal) and from x35
    * (non-overlapping fixed chunks, removal grain): this is the
    * sliding-window duplication MEASURE that decides span-level
    * dedup budgets.
    *
    * Scale shape: one tokenize+explode pass into (doc, window-hash)
    * occurrences; occurrence totals are a map-side-combined groupBy on
    * the 60-bit hash; the per-doc roll-up joins occurrences to totals
    * by hash — a plain shuffle join chosen over a count window for the
    * same reason as x27: a hot window (site chrome duplicated 10⁶×)
    * skews one window-partition but hash-joins fine. No driver state,
    * no all-pairs anything. */
  def dupSpans(t: Tables, w: Int = DupSpanW): DataFrame = {
    val win = withToks(graft.core.Fanout.widen(t.documents))
      .select(col("doc_id"), explode(wordShingles(col("toks"), w)).as("s"))
      .select(col("doc_id"), hash60(col("s")).as("hs"))
    val totals = win.groupBy("hs").agg(count(lit(1)).as("tot"))
    val perDoc = win.join(totals, "hs")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("tot") >= 2, 1L).otherwise(0L)).as("n_dup"))
    t.documents.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") > 0,
          round(col("n_dup").cast("double") /
            col("n_windows").cast("double"), 6)).as("dup_frac"))
      .orderBy("doc_id")
  }

  // ---- x49 duplicate-span removal -----------------------------------------

  /** x49 duplicate-span removal — the ACTION to x44's measure: the
    * Lee et al. 2022 exact-substring dedup itself. Every positional
    * w-token window is hashed; the globally FIRST occurrence of each
    * window (min (doc_id, pos), deterministic) is kept, every later
    * occurrence marks its w token positions for removal; overlapping
    * marked ranges union naturally (distinct covered indices — no
    * interval-merge pass needed); each document's surviving tokens are
    * reassembled in order. Output is (doc_id, n_tokens, n_kept,
    * cleaned_md5) — text hashed, the x34 convention.
    *
    * Scale shape: window hashing is the x44 pass; first-occurrence is
    * a map-side-combined min(struct(doc_id, pos)) groupBy on the hash
    * — NOT a rank window (a boilerplate window duplicated 10⁶× would
    * pile one hash-partition; min-struct combines map-side — as a
    * partial SortAggregate, struct orderings not being
    * hash-aggregable, so each map task pays one in-memory sort by
    * hash — and the dup check is then a hash join). Coverage explode is bounded by
    * w × corpus windows; reassembly groups per doc_id (collect_list
    * of (idx, tok) bounded by doc length, the x26-style per-doc
    * array). No global order anywhere except the oracle-mandated
    * final doc_id sort. */
  def spanRemoval(t: Tables, w: Int = DupSpanW): DataFrame = {
    val td = withToks(graft.core.Fanout.widen(t.documents))
    val win = td
      .select(col("doc_id"),
        posexplode(wordShingles(col("toks"), w)).as(Seq("p0", "s")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        hash60(col("s")).as("hs"))
    val first = win.groupBy("hs")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val dup = win.join(first, "hs")
      .filter(!(col("doc_id") === col("f.doc_id") &&
        col("pos") === col("f.pos")))
    // Coverage via per-doc interval merge, NOT a per-window index
    // explode: at heavy duplicity nearly every window is a dup, and
    // exploding w indices per dup window then DISTINCTing them pushes
    // w× the corpus token count through a shuffle (measured 16× wall
    // for 10× docs at the 5M soak — spill-bound). Fixed width makes
    // island detection a lag: windows sorted by pos have monotone
    // ends, so a new covered interval starts exactly when
    // pos > prev_pos + w. Islands are disjoint, so exploding
    // sequence(start, end) emits each covered index ONCE — the explode
    // is bounded by the token count, and the only shuffle is the
    // doc-partitioned sort (per-doc groups, no hash-key skew).
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    // r13 (guide §2.3 — shuffle metadata, not payloads): the islands
    // stay DOC-GRAIN to the end. Previously each covered index was
    // exploded back to token grain and anti-joined against a full
    // posexplode of the corpus tokens, then the survivors re-assembled
    // per doc with collect_list + array_sort — three token-grain
    // exchanges carrying every token of the corpus. The merged islands
    // are already the per-doc decision; collecting them into a bounded
    // per-doc spans array (≤ ⌈len/w⌉ disjoint intervals) and applying
    // it row-locally with a positional array filter removes every
    // token-grain shuffle: tokens now move zero times, the only
    // remaining wide ops are the window-start pipeline above and one
    // doc-grain join. Token order is the array order — the
    // collect_list/array_sort reassembly (and its interpreted
    // comparator) disappears with the shuffle.
    // Cost shape: the positional filter is O(len × islands) per doc,
    // row-local (islands disjoint, ≤ ⌈len/w⌉; soak docs ~10² tokens →
    // trivial). A pathological 10⁵-token doc alternating dup/clean
    // every w tokens pays O(len²/w) locally where the old token-grain
    // anti-join paid O(len) distributed — if such docs appear, route
    // them through the pre-r13 form (git history) or cap spans first.
    val spans = dup
      .select(col("doc_id"), col("pos"))
      .withColumn("newIsland",
        when(lag(col("pos"), 1).over(wd).isNull ||
          col("pos") > lag(col("pos"), 1).over(wd) + w, 1L).otherwise(0L))
      .withColumn("island", sum(col("newIsland")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("start"), (max(col("pos")) + (w - 1)).as("end"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start"), col("end"))).as("spans"))
    val cleanedToks = filter(col("toks"), (_, i0) =>
      !exists(col("spans"), s =>
        i0 + 1 >= s.getField("start") && i0 + 1 <= s.getField("end")))
    td.select(col("doc_id"), col("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(col("spans").isNull, col("toks"))
          .otherwise(cleanedToks).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  // ---- x50 per-source calibrated quality filter ---------------------------

  /** Keep documents at or above this per-source quality quantile. */
  private val CalibKeepQuantile = 0.7

  /** x50 per-source calibrated quality filtering — the FineWeb-recipe
    * refinement of a global quality cut: a single corpus-wide
    * threshold silently deletes entire low-scoring SOURCES (a
    * low-resource domain whose whole distribution sits below the
    * global bar), so the cut is a QUANTILE WITHIN EACH SOURCE —
    * `percent_rank` of the x10 heuristic score partitioned by source,
    * keep iff rank ≥ q. Token-less documents (null score) are excluded
    * from the ranking and never kept.
    *
    * Scale shape: one tokenize scan for the scores; the only window is
    * PARTITIONED BY source (sources ≈ domains — many groups, none
    * corpus-sized; for a pathological mega-source the same cut can be
    * phrased over approx_percentile instead, the q38Approx move). */
  def calibratedQuality(t: Tables, q: Double = CalibKeepQuantile): DataFrame = {
    val scored = withToks(t.documents)
      .select(col("doc_id"), col("source"),
        qualityCol(col("text"), col("toks")).as("quality"))
    val wq = Window.partitionBy("source").orderBy(col("quality"), col("doc_id"))
    val ranked = scored.filter(col("quality").isNotNull)
      .withColumn("pr", round(percent_rank().over(wq), 6))
    scored
      .join(ranked.select("doc_id", "pr"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("quality"), col("pr"),
        coalesce(col("pr") >= q, lit(false)).as("keep"))
      .orderBy("doc_id")
  }

  /** Scale path of [[calibratedQuality]] (the q38Approx move): the
    * per-source cut value from `percentile_approx` (a GK sketch —
    * map-side-combined groupBy, O(accuracy) state per source) instead
    * of a per-source rank window, then one broadcast join of the
    * ≤|sources|-row cut table. NO window anywhere, so a mega-source
    * whose rows exceed one task's sort capacity costs the same as any
    * other. Boundary semantics differ from the exact form by at most
    * the docs tied at the cut value (spec'd); the exact form is the
    * gate. */
  def calibratedQualityApprox(t: Tables, q: Double = CalibKeepQuantile,
                              accuracy: Int = 10000): DataFrame = {
    // persist the scored frame: both the cut sketch and the final join
    // consume it, and without the persist the tokenize+score subtree
    // plans (and runs) twice — measured 153 s vs 84 s at 12M docs for
    // the two-pass form (SOAK_corpus.md); released after the first
    // materialization like x19/x30/x36
    val scored = withToks(t.documents)
      .select(col("doc_id"), col("source"),
        qualityCol(col("text"), col("toks")).as("quality"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cuts = scored.filter(col("quality").isNotNull)
      .groupBy("source")
      .agg(percentile_approx(col("quality"), lit(q), lit(accuracy)).as("cut"))
    val out = scored.join(broadcast(cuts), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("quality"),
        (col("quality").isNotNull && col("quality") >= col("cut")).as("keep"))
    unpersistAfterFirstUse(out, scored)
  }

  // ---- x46 TF-IDF keyword extraction --------------------------------------

  /** Keywords kept per document. */
  private val TfidfK = 5

  /** x46 TF-IDF top-k keywords per document — the classic salience
    * score (tf · ln(N/df), Sparck Jones 1972) that corpus tooling uses
    * for topic tagging, index hints, and cluster labeling. Distinct
    * from x04 (global token frequency) and x32 (BM25 retrieval against
    * a query set): this is a per-document extraction over the whole
    * corpus vocabulary.
    *
    * Scale shape: one tokenize pass into per-(doc, token) counts;
    * document frequency is a map-side-combined groupBy on the token;
    * tf joins df by token — a plain shuffle join (the x27/x44 choice:
    * a stopword appearing in every doc skews a token-partitioned
    * window but hash-joins fine); the corpus doc count is a 1-row
    * broadcast. Top-k is a window PARTITIONED BY doc_id — per-group
    * heap, no global order. */
  def tfidfKeywords(t: Tables, k: Int = TfidfK): DataFrame = {
    val tf = withToks(graft.core.Fanout.widen(t.documents))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nd = t.documents.agg(count(lit(1)).as("n_docs"))
    // the rank key is the ROUNDED score, not the raw double: the raw
    // tf·ln(N/df) is a libm value, and a last-ulp ln() difference
    // between runtimes would flip near-tied ranks — at 6 dp ties break
    // on tok, deterministically on every platform (the x47 discipline
    // applied to an ordering key rather than a sum)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("tok"))
    tf.join(df, "tok")
      .crossJoin(broadcast(nd))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("tok"),
        col("tf"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  // ---- x47 token-entropy lexical diversity --------------------------------

  /** x47 token-entropy — the information-theoretic lexical-diversity
    * signal (Shannon entropy of the within-document token
    * distribution, plus its ln(n)-normalized form): low-entropy
    * documents are template/spam/repetition candidates the way x16's
    * top-fraction flags them, but entropy ranks the WHOLE distribution
    * rather than its mode, so it separates "one token repeated" from
    * "five tokens cycled" at equal top-fraction. Uses the identity
    * H = ln(n) − (Σ c·ln c)/n so one (doc, token)-count pass and one
    * per-doc reduction suffice — no p=c/n intermediate, no second
    * join. Per-row/per-group only: shuffle-free beyond the two
    * map-side-combined aggs at any corpus size.
    *
    * The Σ c·ln c reduction follows the x25/x55 order-independence
    * discipline: each per-(doc, token) term is rounded to 6 dp and
    * summed as DECIMAL(18,6), so the distributed sum is exact and
    * partition-order-invariant — a plain double sum feeding ROUND(·,6)
    * was the r8 red gate's one remaining reorder channel. */
  def tokenEntropy(t: Tables): DataFrame = {
    val per = withToks(graft.core.Fanout.widen(t.documents))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")), 6)
          .cast(DecimalType(18, 6))).as("clc"))
    t.documents.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        when(col("n_tokens") > 0,
          round(log(col("n_tokens").cast("double")) -
            col("clc").cast("double") / col("n_tokens"), 6)).as("entropy"),
        when(col("n_tokens") > 1,
          round((log(col("n_tokens").cast("double")) -
            col("clc").cast("double") / col("n_tokens")) /
            log(col("n_tokens").cast("double")), 6)).as("norm_entropy"))
      .orderBy("doc_id")
  }

  // ---- x48 deterministic shard assignment ---------------------------------

  /** Training shards written by the gate query. */
  private val NumShards = 8

  /** x48 deterministic shard assignment — the LAST stage of corpus
    * prep: a global, salt-keyed hash shuffle of the kept documents
    * into `shards` balanced output files in a reproducible order
    * (dataloader-ready; re-running the pipeline bit-reproduces every
    * shard). `shard = h60(doc_id·salt) % shards` spreads adjacent ids,
    * `pos` orders within the shard by the same hash — so the written
    * order is also a deterministic permutation, the "global shuffle"
    * LLM training wants without any global sort: the only window is
    * PARTITIONED BY shard (shard count ≈ output files, each a
    * fraction of the corpus; at 100 TB shards are sized to the
    * dataloader, thousands of partitions, none global). */
  def shardAssign(t: Tables, shards: Int = NumShards,
                  salt: String = "shard0"): DataFrame = {
    val keyed = t.documents
      .select(col("doc_id"),
        hash60(concat(col("doc_id").cast("string"), lit("|" + salt)))
          .as("hk"))
      .withColumn("shard", col("hk") % shards)
    val w = Window.partitionBy("shard").orderBy(col("hk"), col("doc_id"))
    keyed
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
      .orderBy("shard", "pos")
  }

  /** x54 holdout share (per-mille) and hash salt. */
  private[operators] val SplitPerMille = 100
  private[operators] val SplitSalt = "split_v1"

  /** x54 leakage-free train/holdout split: duplicate GROUPS are the
    * unit of assignment, never single documents — a random per-doc
    * split puts one copy of a duplicated document in train and its
    * twin in the eval set, silently inflating held-out scores (the
    * standard contamination failure Lee et al. 2022 §5 measure). Group
    * key = the x11 normalized fingerprint, so trivially-mutated exact
    * dups land together; the whole group goes to holdout iff a salted
    * hash of the group key falls under the per-mille cut — i.e. the
    * split is a pure function of CONTENT, reproducible across runs and
    * immune to re-partitioning/re-ingestion order.
    *
    * Scale shape: one row-local fingerprint pass, one map-side-combined
    * groupBy(fp) for group size, one equi-join back on fp (the x27
    * skew-safe shape — a hot fingerprint is a hash-join key, not a
    * window partition). The split column itself is recomputable
    * row-locally from fp, so consumers that don't need `group_size`
    * can drop the join entirely.
    *
    * For NEAR-dup closure (paraphrase leakage), use
    * [[leakageSplitByCluster]]: same rule keyed by the x21 connected-
    * component label instead of the exact fingerprint. */
  def leakageSplit(t: Tables, perMille: Int = SplitPerMille,
                   salt: String = SplitSalt): DataFrame = {
    val docs = graft.core.Fanout.widen(t.documents)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val groups = docs.groupBy("fp").agg(count(lit(1)).as("group_size"))
      .withColumn("split",
        when(hash60(concat(col("fp"), lit("_" + salt))) % 1000 < perMille,
          lit("holdout")).otherwise(lit("train")))
    docs.join(groups, "fp")
      .select(col("doc_id"), col("fp"), col("group_size"), col("split"))
      .orderBy("doc_id")
  }

  /** The near-dup-closure form of [[leakageSplit]]: assignment keyed by
    * the x21 SimHash connected-component label, so even paraphrased
    * near-duplicates (ham ≤ 6) cannot straddle the split. Not oracle-
    * gated (CC labels are the x21/check_cc territory); the spec pins
    * the no-straddle invariant against dupEdges directly. */
  def leakageSplitByCluster(t: Tables, perMille: Int = SplitPerMille,
                            salt: String = SplitSalt): DataFrame =
    dupClusters(t)
      .withColumn("split",
        when(hash60(concat(col("cluster_id").cast("string"),
          lit("_" + salt))) % 1000 < perMille,
          lit("holdout")).otherwise(lit("train")))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")

  /** x57 MinHash-side agreement cut (over the verified rounded jac). */
  private[operators] val ConsensusJacThreshold = 0.5

  /** x57 consensus near-dup audit — the sketch-family AGREEMENT table:
    * every pair flagged by MinHash-LSH (verified jac ≥ cut) or by
    * banded SimHash (ham ≤ 6), labeled `both` / `minhash_only` /
    * `simhash_only`. The two families have different blind spots
    * (MinHash sees set overlap and misses reordered-but-same-bag docs
    * less; SimHash weights token frequency and catches bag-identical
    * permutations MinHash shingles miss), so production dedup tunes
    * band widths until the `*_only` tails are understood — this query
    * IS that tuning read-out, the disagreement rate between sketches.
    *
    * Scale shape: the two pair sets are each banded-candidate-verified
    * (never all-pairs, x07/x13 machinery unchanged); the audit join is
    * pair-keyed. CAVEAT (measured, 500k soak): under heavy bag-level
    * duplicity the TRUE pair set is quadratic in group size (a
    * 100-copy group owns C(100,2) genuine ham=0 pairs — ~25M pairs at
    * 500k docs on the soak fixture), so at corpus scale use
    * [[consensusNearDupCollapsed]], which audits one representative
    * per distinct SimHash and carries the collapsed counts. */
  def consensusNearDup(t: Tables,
                       jacThr: Double = ConsensusJacThreshold): DataFrame = {
    val mh = lshPairs(t).filter(col("jac") >= jacThr)
    val sp = simhashPairs(t)
    mh.join(sp, Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"), col("jac"), col("ham"),
        when(col("jac").isNotNull && col("ham").isNotNull, lit("both"))
          .when(col("jac").isNotNull, lit("minhash_only"))
          .otherwise(lit("simhash_only")).as("found_by"))
      .orderBy("d1", "d2")
  }

  /** The scale form of [[consensusNearDup]]: audit at SimHash-
    * fingerprint-REPRESENTATIVE grain. Raw pair enumeration is
    * quadratic in duplicate-group size by SEMANTICS (a 100-copy bag
    * group contributes C(100,2) = 4,950 genuine ham=0 pairs — the
    * 500k soak measured ~25M true pairs and killed the run), the same
    * wall x21 hit before its fingerprint collapse. Here each distinct
    * SimHash keeps its min-doc_id representative (`bag_dups` counts
    * the collapsed members), both sketch families run on the rep-only
    * corpus, and the audit compares their verdicts on that universe.
    * Member-level PAIRS are recoverable by expanding the bag groups;
    * the expansion is exact for `sim`/`ham` (bag-identical docs share
    * SimHash by construction) but only approximate for the MinHash
    * `jac` column — a reordered bag member has the same token multiset
    * yet different 3-gram shingle set, so its true Jaccard against a
    * counterpart can differ from the representative's (r8 ADVICE). */
  def consensusNearDupCollapsed(t: Tables,
                                jacThr: Double = ConsensusJacThreshold): DataFrame = {
    val sims = simhashDf(graft.core.Fanout.widen(t.documents))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = sims.groupBy("sim")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("bag_dups"))
    val repIds = reps.select(col("doc_id"), col("bag_dups"))
    val repDocs = graft.core.Fanout.widen(t.documents)
      .join(repIds.select("doc_id"), "doc_id")
    val mh = lshPairsFrom(withToks(repDocs)).filter(col("jac") >= jacThr)
    val sp = simhashPairsFromSims(sims.join(repIds.select("doc_id"), "doc_id"))
    val audit = mh.join(sp, Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"), col("jac"), col("ham"),
        when(col("jac").isNotNull && col("ham").isNotNull, lit("both"))
          .when(col("jac").isNotNull, lit("minhash_only"))
          .otherwise(lit("simhash_only")).as("found_by"))
      .join(repIds.select(col("doc_id").as("d1"), col("bag_dups").as("dups1")), "d1")
      .join(repIds.select(col("doc_id").as("d2"), col("bag_dups").as("dups2")), "d2")
      .select(col("d1"), col("d2"), col("jac"), col("ham"), col("found_by"),
        col("dups1"), col("dups2"))
      .orderBy("d1", "d2")
    unpersistAfterFirstUse(audit, sims)
  }

  /** x58 quality-based survivorship — the FineWeb/RefinedWeb keep
    * policy: within each NEAR-dup cluster (the x21 SimHash connected
    * component), keep the highest-quality member, not the lowest id —
    * x23 answers "which copy is canonical" for exact dups by hash
    * rank; this answers "which near-duplicate is worth training on"
    * by the x10 quality score (ties by doc_id). Docs outside any
    * cluster are their own cluster and keep themselves.
    *
    * Scale shape: cluster labels come from the size-routed CC of x21;
    * the quality pass is row-local; the keep rank is a window
    * PARTITIONED BY cluster (groups are near-dup clusters — bounded,
    * never corpus-sized); the label join is doc_id-keyed. */
  def qualitySurvivors(t: Tables): DataFrame = {
    val labels = dupClusters(t).select(col("doc_id"), col("cluster_id"))
    val docs = withToks(graft.core.Fanout.widen(t.documents))
    val q = docs.select(col("doc_id"),
      qualityCol(col("text"), col("toks")).as("quality"))
    q.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("quality"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(desc_nulls_last("quality"), col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("rk") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** x55 corpus report — the dataset-card statistics table every
    * released training corpus publishes (per-source × per-language
    * rollup of volume, token mass, quality, and exact-dup incidence).
    * All aggregated measures are INTEGER sums (token/char counts, the
    * x10 quality micro-quantized to a long, dup-doc indicator), so the
    * corpus-wide totals are immune to distributed float-sum ordering —
    * the q34 discipline applied to floats via fixed-point. Dup
    * incidence joins the x01-style fingerprint group size back per doc
    * (skew-safe equi-join, never a window).
    *
    * Scale shape: one tokenize scan feeding a map-side-combined rollup
    * (|sources| × |langs| + margins output rows) plus the fingerprint
    * groupBy — two shuffles total, output bounded by the label-space
    * product at any corpus size. */
  def corpusReport(t: Tables): DataFrame = {
    val base = withToks(graft.core.Fanout.widen(t.documents))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("toks"), fingerprint(col("text")).as("fp"))
    val dupSizes = base.groupBy("fp").agg(count(lit(1)).as("gs"))
    val perDoc = base.join(dupSizes, "fp")
      .select(col("source"), col("lang"),
        size(col("toks")).cast("long").as("n_toks"),
        length(col("text")).cast("long").as("n_chars"),
        coalesce(round(qualityCol(col("text"), col("toks")) * 1e6)
          .cast("long"), lit(0L)).as("q_micro"),
        (col("gs") > 1).cast("long").as("is_dup"))
    perDoc.rollup(col("source"), col("lang"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("n_chars").as("sum_chars"),
        sum("q_micro").as("q_micro_sum"),
        sum("is_dup").as("n_dup_docs"))
      .orderBy(col("gid"), col("source"), col("lang"))
  }

  /** x56 sketch size (gate). Production overlap audits use k in the
    * 10³–10⁴ range per corpus pair. */
  private[operators] val OvK = 64

  /** x56 sketched corpus-pair overlap — dataset-governance auditing
    * (did snapshot B re-crawl snapshot A? how much of corpus X leaked
    * into Y?) without ever joining the corpora: each side keeps only
    * the k minimum 60-bit shingle hashes (the x20 KMV sketch applied
    * to the n-gram SET of a whole corpus), and the Broder k-min
    * estimator reads Jaccard off the merged sketch — |{k smallest of
    * A∪B} present in both sketches| / |merged|. Sketches are mergeable
    * and tiny (k longs), so cross-datacenter audits ship kilobytes.
    * Sides here: doc_id parity (the gate's stand-in for two corpus
    * snapshots; production passes two real tables through the same
    * shape).
    *
    * Scale shape: the two-stage salted k-min of x20 per side (no
    * window partition ever holds more than 64·k rows), then every
    * post-sketch step is over ≤ 2k rows: the merge is a TakeOrdered(k)
    * over the union of two k-row frames, the estimates are 1-row
    * aggregates cross-joined back (broadcast of scalar frames). When a
    * side has fewer than k distinct shingles the sketch IS the set and
    * every estimate is exact — pinned in the spec. */
  def corpusOverlap(t: Tables, k: Int = OvK): DataFrame = {
    val twoPow60 = 1152921504606846976.0 // 2^60, exactly representable
    val sh = withToks(graft.core.Fanout.widen(t.documents))
      .select(pmod(col("doc_id"), lit(2L)).as("side"),
        explode(wordShingles(col("toks"), 3)).as("s"))
      .select(col("side"), hash60(col("s")).as("hs"))
      .distinct()
    val stage1 = sh
      .withColumn("rk1", row_number().over(
        Window.partitionBy(col("side"), pmod(col("hs"), lit(64L)))
          .orderBy(col("hs"))))
      .filter(col("rk1") <= k)
    val sk = stage1
      .withColumn("rk", row_number().over(
        Window.partitionBy("side").orderBy("hs")).cast("long"))
      .filter(col("rk") <= k)
      .select(col("side"), col("hs"), col("rk"))
    val sideAgg = sk.groupBy("side")
      .agg(max("rk").as("n"), max(when(col("rk") === k, col("hs"))).as("hk"))
    def est(n: Column, hk: Column): Column =
      round(when(n < k, n.cast("double"))
        .otherwise(lit((k - 1).toDouble) / (hk.cast("double") / lit(twoPow60))), 6)
    val a = sideAgg.filter(col("side") === 0)
      .select(col("n").as("n_a"), col("hk").as("hk_a"))
    val b = sideAgg.filter(col("side") === 1)
      .select(col("n").as("n_b"), col("hk").as("hk_b"))
    // merged sketch: k smallest of the UNION of the two sketches, with
    // per-side membership flags — TakeOrdered over <= 2k rows
    val merged = sk
      .groupBy("hs")
      .agg(max(when(col("side") === 0, 1L).otherwise(0L)).as("ina"),
        max(when(col("side") === 1, 1L).otherwise(0L)).as("inb"))
      .orderBy("hs").limit(k)
    val uAgg = merged.agg(
      count(lit(1)).as("n_u"), max("hs").as("u_k"),
      sum(col("ina") * col("inb")).as("nboth"))
    uAgg.crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(lit(k.toLong).as("k"),
        col("n_a"), col("n_b"),
        est(col("n_a"), col("hk_a")).as("est_a"),
        est(col("n_b"), col("hk_b")).as("est_b"),
        est(col("n_u"), col("u_k")).as("est_union"),
        round(col("nboth").cast("double") / col("n_u").cast("double"), 6)
          .as("jac_est"))
  }

  val all: Seq[(String, Tables => DataFrame)] = Seq(
    "x01_exactdedup" -> exactDedup _,
    "x02_textstats" -> textStats _,
    "x03_langid" -> langId _,
    "x04_tokenfreq" -> tokenFreq _,
    "x05_ngramjaccard" -> ngramJaccardTop _,
    "x06_minhash" -> minhashSignatures _,
    "x07_lshpairs" -> (t => lshPairs(t)),
    "x10_quality" -> qualityScore _,
    "x11_fingerprint" -> fingerprints _,
    "x12_simhash" -> simhashes _,
    "x13_simhashpairs" -> simhashPairs _,
    "x15_bpetokens" -> bpeTokens _,
    "x16_repetition" -> repetition _,
    "x18_stratified" -> (t => stratifiedSample(t)),
    "x19_corpus_filter" -> (t => corpusFilter(t)),
    "x20_kmv_distinct" -> (t => kmvDistinct(t)),
    "x21_dupclusters" -> (t => dupClusters(t)),
    "x23_dedup_survivors" -> (t => dedupSurvivors(t)),
    "x24_weighted_sample" -> weightedSample _,
    "x25_unigram_logprob" -> unigramLogProb _,
    "x26_decontaminate" -> (t => decontaminate(t)),
    "x27_boilerplate" -> (t => boilerplate(t)),
    "x28_budget_fill" -> (t => budgetFill(t)),
    "x29_pack_sequences" -> (t => packSequences(t)),
    "x30_curation_pipeline" -> (t => curationPipeline(t)),
    "x31_bloom_decontaminate" -> (t => bloomDecontaminate(t)),
    "x32_bm25_topk" -> bm25TopK _,
    "x34_pii_redact" -> piiRedact _,
    "x35_chunk_dedup" -> (t => chunkDedup(t)),
    "x36_dsir_weights" -> dsirWeights _,
    "x37_gopher_rules" -> gopherRules _,
    "x38_domain_caps" -> (t => domainCaps(t)),
    "x39_bigram_ppl" -> bigramPerplexity _,
    "x40_ppl_partition" -> pplPartition _,
    "x41_rrf_fusion" -> rrfFusion _,
    "x42_delta_dedup" -> (t => deltaDedup(t)),
    "x43_mixture_weights" -> (t => mixtureWeights(t)),
    "x44_dup_spans" -> (t => dupSpans(t)),
    "x46_tfidf_keywords" -> (t => tfidfKeywords(t)),
    "x47_token_entropy" -> tokenEntropy _,
    "x48_shard_assign" -> (t => shardAssign(t)),
    "x49_span_removal" -> (t => spanRemoval(t)),
    "x50_calibrated_quality" -> (t => calibratedQuality(t)),
    "x52_contrastive_pairs" -> (t => contrastivePairs(t)),
    "x54_leakage_split" -> (t => leakageSplit(t)),
    "x55_corpus_report" -> (t => corpusReport(t)),
    "x56_corpus_overlap" -> (t => corpusOverlap(t)),
    "x57_consensus_neardup" -> (t => consensusNearDup(t)),
    "x58_quality_survivors" -> (t => qualitySurvivors(t)),
    "x63_mixture_materialize" -> (t => mixtureMaterialize(t)),
    "x64_sequence_pack" -> (t => sequencePack(t)),
  )

  // ---- DuckDB oracles ----------------------------------------------------
  // Shared fragments are generated from the SAME Scala constants the Spark
  // plans use (MinHashCoeffs, Stopwords, band layout) so the two sides
  // cannot drift.

  /** DuckDB: whitespace tokens of `text` (empties dropped). */
  private val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** DuckDB CTEs ending in `agg(doc_id, n_bigrams, ce)` — the x39/x40
    * hashed-bigram cross-entropy, generated from the same
    * ([[LmBuckets]], [[LmTarget]]) constants as [[bigramCe]]. */
  private lazy val bigramCeCtes: String = s"""
      toks AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
      bg AS (SELECT doc_id, source,
          CAST('0x' || substr(md5(string_split(s, ' ')[1]), 1, 15) AS BIGINT) % $LmBuckets AS cb,
          CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $LmBuckets AS bb
        FROM (SELECT doc_id, source,
                unnest(CASE WHEN len(tk) >= 2
                  THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
                  ELSE [] END) AS s
              FROM toks)),
      cnt AS (SELECT doc_id, source, cb, bb, COUNT(*) AS cnt FROM bg GROUP BY ALL),
      ctx AS (SELECT cb, SUM(cnt) AS c1 FROM cnt WHERE source = '$LmTarget' GROUP BY cb),
      mdl AS (SELECT cb, bb, SUM(cnt) AS c12 FROM cnt WHERE source = '$LmTarget' GROUP BY cb, bb),
      sc AS (SELECT c.doc_id, c.cnt,
               ln((COALESCE(m.c12, 0) + 1.0) / (COALESCE(x.c1, 0) + $LmBuckets.0)) AS lp
             FROM cnt c LEFT JOIN mdl m ON m.cb = c.cb AND m.bb = c.bb
             LEFT JOIN ctx x ON x.cb = c.cb
             WHERE c.source <> '$LmTarget'),
      agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
                ROUND(-SUM(cnt * lp) / SUM(cnt), 6) AS ce
              FROM sc GROUP BY doc_id)"""

  /** DuckDB: 3-gram word shingles of a token-list column `tk`. */
  private val shinglesSql =
    "CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) ELSE [] END"

  /** DuckDB CTEs: distinct (doc_id, shingle) + folded hash, over `src`. */
  private def shingleCtes(where: String): String = s"""
      toks AS (SELECT doc_id, $toksSql AS tk FROM documents $where),
      sh AS (SELECT DISTINCT doc_id, s
             FROM (SELECT doc_id, unnest($shinglesSql) AS s FROM toks))"""

  /** DuckDB CTEs: distinct (doc_id, 60-bit hashed shingle) — the
    * x26/x27 form, same md5 fold as the Spark side's `hash60`. */
  private val hashedShingleCtes: String = s"""
      toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hs
             FROM (SELECT doc_id, unnest($shinglesSql) AS s FROM toks))"""

  private val minhashAggSql: String =
    MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      f"MIN(($a%d * hm + $b%d) %% $MinHashP%d) AS m$j%02d"
    }.mkString(", ")

  private val sigSql: String = s"""
      h AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $MinHashP AS hm FROM sh),
      sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id)"""

  private val stopCountsSql: String =
    Stopwords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(tk, x -> list_contains($lst, x))) AS BIGINT) AS s_$lang"
    }.mkString(", ")

  /** DuckDB: stopword-argmax language (same tie order as [[predLang]]). */
  private val langCaseSql: String =
    s"CASE ${Stopwords.map { case (l, _) =>
      s"WHEN s_$l = greatest(${Stopwords.map("s_" + _._1).mkString(", ")}) THEN '$l'"
    }.mkString(" ")} ELSE 'und' END"

  /** DuckDB: the x10 quality formula over (`text`, token list `tk`). */
  private def qualitySql(text: String, tk: String): String = {
    val nTok = s"CAST(len($tk) AS DOUBLE)"
    s"""CASE WHEN len($tk) > 0 THEN ROUND(
          least(1.0, $nTok / 100) * 0.5 +
          (CAST(len(list_distinct($tk)) AS DOUBLE) / $nTok) * 0.3 +
          (1.0 - least(1.0, CAST(length(regexp_replace($text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / $nTok)) * 0.2, 6) END"""
  }

  /** DuckDB CTEs ending in `jacp(d1, d2, jac)` — every LSH candidate
    * pair with its verified (rounded) Jaccard; shared by x07 and x19. */
  /** DuckDB CTEs ending in `jacp(d1, d2, jac)` for an arbitrary
    * `numBands` × `bandRows` banding of the k=16 signature — the
    * parameterized form of the x07 4×4 chain (x52 mines with 8×2 to
    * widen the candidate net deliberately). */
  private def lshCtesW(bandRows: Int, numBands: Int): String =
    s"""${shingleCtes("")}, $sigSql,
      banded AS (SELECT doc_id, ${(0 until numBands).map(b =>
      s"concat_ws('_', ${(0 until bandRows).map(r => f"m${b * bandRows + r}%02d").mkString(", ")}) AS band$b").mkString(", ")}
        FROM sig),
      cand AS (SELECT DISTINCT d1, d2 FROM (${(0 until numBands).map(b =>
      s"SELECT x.doc_id AS d1, y.doc_id AS d2 FROM banded x JOIN banded y ON x.band$b = y.band$b AND x.doc_id < y.doc_id").mkString(" UNION ALL ")})),
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM h GROUP BY doc_id),
      inter AS (SELECT c.d1, c.d2, COUNT(*) AS i FROM cand c
                JOIN h a ON a.doc_id = c.d1 JOIN h b ON b.doc_id = c.d2 AND b.hm = a.hm
                GROUP BY c.d1, c.d2),
      jacp AS (SELECT c.d1, c.d2,
        ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) / CAST(s1.sz + s2.sz - COALESCE(i.i, 0) AS DOUBLE), 6) AS jac
      FROM cand c LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
      JOIN sz s1 ON s1.doc_id = c.d1 JOIN sz s2 ON s2.doc_id = c.d2)"""

  private val lshCtes: String = lshCtesW(4, 4)

  /** DuckDB CTEs ending in recursive `walk(v, lbl)` — the x21 min-label
    * connected-components chain over ham≤6 SimHash edges, shared by the
    * x21 and x58 oracles (callers add `WITH RECURSIVE` and the final
    * per-vertex MIN(lbl) aggregation). */
  private lazy val ccWalkCtes: String = s"""$simhashSql,
      banded AS (SELECT doc_id, sim, ${(0 until 4).map(b =>
    s"((sim >> ${b * 15}) & 32767) AS band$b").mkString(", ")} FROM sims),
      cand AS (SELECT DISTINCT d1, d2 FROM (${(0 until 4).map(b =>
    s"SELECT x.doc_id AS d1, y.doc_id AS d2 FROM banded x JOIN banded y ON x.band$b = y.band$b AND x.doc_id < y.doc_id").mkString(" UNION ALL ")})),
      p AS (SELECT c.d1, c.d2 FROM cand c JOIN sims x ON x.doc_id = c.d1 JOIN sims y ON y.doc_id = c.d2
            WHERE bit_count(xor(x.sim, y.sim)) <= 6),
      e AS (SELECT d1 AS s, d2 AS d FROM p UNION ALL SELECT d2 AS s, d1 AS d FROM p),
      n AS (SELECT DISTINCT s AS v FROM e),
      walk(v, lbl) AS (
        SELECT v, v FROM n
        UNION
        SELECT e.d, w.lbl FROM walk w JOIN e ON e.s = w.v)"""

  private val simhashSql: String = s"""
      tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
      hh AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS hv FROM tok),
      bb AS (SELECT doc_id, bit.b AS b, SUM(CASE WHEN ((hv >> bit.b) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
             FROM hh CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bit GROUP BY doc_id, bit.b),
      ff AS (SELECT doc_id, CAST(SUM(CASE WHEN sgn >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sim
             FROM bb GROUP BY doc_id),
      sims AS (SELECT d.doc_id, CAST(COALESCE(ff.sim, ${(1L << 60) - 1}) AS BIGINT) AS sim
               FROM documents d LEFT JOIN ff ON ff.doc_id = d.doc_id)"""

  val oracles: Map[String, String] = Map(
    "x01_exactdedup" ->
      "SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count FROM documents GROUP BY h ORDER BY h",
    "x02_textstats" -> s"""
      WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents)
      SELECT doc_id, CAST(length(text) AS BIGINT) AS chars, CAST(len(tk) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
        CASE WHEN len(tk) > 0 THEN ROUND(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 6) END AS avg_token_len,
        CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS punct
      FROM t ORDER BY doc_id""",
    "x03_langid" -> s"""
      WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
      s AS (SELECT doc_id, $stopCountsSql FROM t)
      SELECT doc_id, $langCaseSql AS pred_lang,
        ${Stopwords.map("s_" + _._1).mkString(", ")}
      FROM s ORDER BY doc_id""",
    "x04_tokenfreq" -> s"""
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest($toksSql) AS tok FROM documents)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 30""",
    "x05_ngramjaccard" -> s"""
      WITH ${shingleCtes("WHERE doc_id < 100")},
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE), 6) AS jac
      FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
      ORDER BY jac DESC, d1, d2 LIMIT 20""",
    "x06_minhash" -> s"""
      WITH ${shingleCtes("")}, $sigSql
      SELECT * FROM sig ORDER BY doc_id""",
    "x07_lshpairs" -> s"""
      WITH $lshCtes
      SELECT d1, d2, jac FROM jacp ORDER BY d1, d2""",
    "x52_contrastive_pairs" -> s"""
      WITH ${lshCtesW(CpBandRows, CpNumBands)}
      SELECT d1, d2, jac,
        CASE WHEN jac >= $CpPosThreshold THEN 'positive' ELSE 'hard_negative' END AS pair_type
      FROM jacp WHERE jac >= $CpPosThreshold OR jac <= $CpNegThreshold
      ORDER BY d1, d2""",
    "x54_leakage_split" -> raw"""
      WITH f AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents),
      g AS (SELECT fp, COUNT(*) AS group_size,
              CASE WHEN CAST('0x' || substr(md5(fp || '_$SplitSalt'), 1, 15) AS BIGINT) % 1000 < $SplitPerMille
                THEN 'holdout' ELSE 'train' END AS split
            FROM f GROUP BY fp)
      SELECT f.doc_id, f.fp, g.group_size, g.split
      FROM f JOIN g USING (fp) ORDER BY doc_id""",
    "x55_corpus_report" -> raw"""
      WITH t AS (SELECT doc_id, source, lang, text, $toksSql AS tk FROM documents),
      b AS (SELECT doc_id, source, lang, text, tk,
              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM t),
      g AS (SELECT fp, COUNT(*) AS gs FROM b GROUP BY fp),
      p AS (SELECT b.source, b.lang,
              CAST(len(b.tk) AS BIGINT) AS n_toks,
              CAST(length(b.text) AS BIGINT) AS n_chars,
              CAST(COALESCE(ROUND((${qualitySql("b.text", "b.tk")}) * 1000000.0), 0) AS BIGINT) AS q_micro,
              CASE WHEN g.gs > 1 THEN 1 ELSE 0 END AS is_dup
            FROM b JOIN g USING (fp))
      SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid,
        COUNT(*) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(q_micro) AS BIGINT) AS q_micro_sum,
        CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs
      FROM p GROUP BY ROLLUP(source, lang)
      ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""",
    "x56_corpus_overlap" -> {
      val k = OvK
      def estSql(n: String, hk: String) =
        s"ROUND(CASE WHEN $n < $k THEN CAST($n AS DOUBLE) ELSE ${k - 1}.0 / (CAST($hk AS DOUBLE) / 1152921504606846976.0) END, 6)"
      s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      sh AS (SELECT DISTINCT doc_id % 2 AS side, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hs
             FROM (SELECT doc_id, unnest($shinglesSql) AS s FROM toks)),
      r AS (SELECT side, hs, CAST(ROW_NUMBER() OVER (PARTITION BY side ORDER BY hs) AS BIGINT) AS rk FROM sh),
      sk AS (SELECT side, hs, rk FROM r WHERE rk <= $k),
      sides AS (SELECT side, MAX(rk) AS n, MAX(CASE WHEN rk = $k THEN hs END) AS hk FROM sk GROUP BY side),
      m AS (SELECT hs, MAX(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ina,
                   MAX(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS inb
            FROM sk GROUP BY hs ORDER BY hs LIMIT $k),
      u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u, MAX(hs) AS u_k,
                   CAST(SUM(ina * inb) AS BIGINT) AS nboth FROM m),
      sa AS (SELECT n AS n_a, hk AS hk_a FROM sides WHERE side = 0),
      sb AS (SELECT n AS n_b, hk AS hk_b FROM sides WHERE side = 1)
      SELECT CAST($k AS BIGINT) AS k, n_a, n_b,
        ${estSql("n_a", "hk_a")} AS est_a,
        ${estSql("n_b", "hk_b")} AS est_b,
        ${estSql("n_u", "u_k")} AS est_union,
        ROUND(CAST(nboth AS DOUBLE) / CAST(n_u AS DOUBLE), 6) AS jac_est
      FROM u CROSS JOIN sa CROSS JOIN sb"""
    },
    "x57_consensus_neardup" -> s"""
      WITH $lshCtes, $simhashSql,
      sbanded AS (SELECT doc_id, sim, ${(0 until 4).map(b =>
      s"((sim >> ${b * 15}) & 32767) AS sband$b").mkString(", ")} FROM sims),
      scand AS (SELECT DISTINCT d1, d2 FROM (${(0 until 4).map(b =>
      s"SELECT x.doc_id AS d1, y.doc_id AS d2 FROM sbanded x JOIN sbanded y ON x.sband$b = y.sband$b AND x.doc_id < y.doc_id").mkString(" UNION ALL ")})),
      mh AS (SELECT d1, d2, jac FROM jacp WHERE jac >= $ConsensusJacThreshold),
      sp AS (SELECT c.d1, c.d2, CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS ham
             FROM scand c JOIN sims x ON x.doc_id = c.d1 JOIN sims y ON y.doc_id = c.d2
             WHERE bit_count(xor(x.sim, y.sim)) <= 6)
      SELECT COALESCE(mh.d1, sp.d1) AS d1, COALESCE(mh.d2, sp.d2) AS d2,
        mh.jac, sp.ham,
        CASE WHEN mh.d1 IS NOT NULL AND sp.d1 IS NOT NULL THEN 'both'
             WHEN mh.d1 IS NOT NULL THEN 'minhash_only'
             ELSE 'simhash_only' END AS found_by
      FROM mh FULL JOIN sp ON mh.d1 = sp.d1 AND mh.d2 = sp.d2
      ORDER BY d1, d2""",
    "x10_quality" -> s"""
      WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents)
      SELECT doc_id, ${qualitySql("text", "tk")} AS quality
      FROM t ORDER BY doc_id""",
    "x11_fingerprint" ->
      raw"SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id",
    "x12_simhash" -> s"""
      WITH $simhashSql
      SELECT doc_id, sim FROM sims ORDER BY doc_id""",
    "x13_simhashpairs" -> s"""
      WITH $simhashSql,
      banded AS (SELECT doc_id, sim, ${(0 until 4).map(b =>
        s"((sim >> ${b * 15}) & 32767) AS band$b").mkString(", ")} FROM sims),
      cand AS (SELECT DISTINCT d1, d2 FROM (${(0 until 4).map(b =>
        s"SELECT x.doc_id AS d1, y.doc_id AS d2 FROM banded x JOIN banded y ON x.band$b = y.band$b AND x.doc_id < y.doc_id").mkString(" UNION ALL ")}))
      SELECT c.d1, c.d2, CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS ham
      FROM cand c JOIN sims x ON x.doc_id = c.d1 JOIN sims y ON y.doc_id = c.d2
      WHERE bit_count(xor(x.sim, y.sim)) <= 6
      ORDER BY c.d1, c.d2""",
    "x15_bpetokens" -> """
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums,
        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_marks,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+')) + len(regexp_extract_all(text, '[0-9]+')) + len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_bpeish
      FROM documents ORDER BY doc_id""",
    "x16_repetition" -> s"""
      WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
      g AS (
        SELECT doc_id, 2 AS n,
          unnest(CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END) AS g
        FROM tk
        UNION ALL
        SELECT doc_id, 3 AS n, unnest($shinglesSql) AS g FROM tk),
      c AS (SELECT doc_id, n, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hg, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
      p AS (SELECT doc_id, n,
              CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac,
              CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_frac
            FROM c GROUP BY 1, 2)
      SELECT d.doc_id,
        ROUND(MAX(CASE WHEN n = 2 THEN top_frac END), 6) AS top2gram_frac,
        ROUND(MAX(CASE WHEN n = 2 THEN dup_frac END), 6) AS dup2gram_frac,
        ROUND(MAX(CASE WHEN n = 3 THEN top_frac END), 6) AS top3gram_frac,
        ROUND(MAX(CASE WHEN n = 3 THEN dup_frac END), 6) AS dup3gram_frac
      FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
      GROUP BY d.doc_id ORDER BY d.doc_id""",
    "x18_stratified" -> """
      SELECT source, doc_id, rk FROM (
        SELECT source, doc_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS BIGINT) AS rk
        FROM documents)
      WHERE rk <= 20 ORDER BY source, rk""",
    "x19_corpus_filter" -> s"""
      WITH $lshCtes,
      t2 AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
      sw AS (SELECT doc_id, text, tk, $stopCountsSql FROM t2),
      base AS (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          $langCaseSql AS pred_lang,
          ${qualitySql("text", "tk")} AS quality,
          ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS hash_rank
        FROM sw),
      g2 AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hg, COUNT(*) AS c FROM (
               SELECT doc_id, unnest(CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END) AS g
               FROM t2) GROUP BY 1, 2),
      rep AS (SELECT doc_id,
                ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS dup2
              FROM g2 GROUP BY doc_id),
      nd AS (SELECT DISTINCT d2 AS doc_id FROM jacp WHERE jac >= 0.8)
      SELECT b.doc_id,
        CASE WHEN b.hash_rank > 1 THEN 'exact_dup'
             WHEN b.n_tokens < 20 THEN 'too_short'
             WHEN b.pred_lang NOT IN ('en') THEN 'lang'
             WHEN b.quality < 0.3 THEN 'low_quality'
             WHEN r.dup2 > 0.6 THEN 'repetitive'
             WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
             ELSE 'kept' END AS status,
        b.pred_lang, b.n_tokens, b.quality
      FROM base b
      LEFT JOIN rep r ON r.doc_id = b.doc_id
      LEFT JOIN nd ON nd.doc_id = b.doc_id
      ORDER BY b.doc_id""",
    // KMV over the SAME md5 h60 primitive: the k-th-smallest hash (and
    // hence the estimate) is reproduced bit-for-bit; the salt-bucketed
    // two-stage top-k on the Spark side selects exactly the global k
    // smallest, so a plain one-stage rank is an equivalent oracle.
    "x20_kmv_distinct" -> """
      WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
      h AS (SELECT event_type, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM d),
      r AS (SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
      g AS (SELECT event_type, MAX(rk) AS sketch_n, MAX(CASE WHEN rk = 32 THEN h END) AS hk
            FROM r GROUP BY event_type)
      SELECT event_type,
        ROUND(CASE WHEN sketch_n < 32 THEN CAST(sketch_n AS DOUBLE)
                   ELSE 31.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0) END, 6) AS kmv_est
      FROM g ORDER BY event_type""",
    "x21_dupclusters" -> s"""
      WITH RECURSIVE $ccWalkCtes
      SELECT v AS doc_id, MIN(lbl) AS cluster_id, (v = MIN(lbl)) AS is_rep
      FROM walk GROUP BY v ORDER BY doc_id""",
    "x58_quality_survivors" -> s"""
      WITH RECURSIVE $ccWalkCtes,
      lab AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY v),
      tq AS (SELECT doc_id, ${qualitySql("text", "tk")} AS quality
             FROM (SELECT doc_id, text, $toksSql AS tk FROM documents)),
      fl AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id, tq.quality
             FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
             JOIN tq ON tq.doc_id = d.doc_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY quality DESC NULLS LAST, doc_id) AS rk FROM fl)
      SELECT doc_id, cluster_id, quality, rk = 1 AS keep
      FROM r ORDER BY doc_id""",
    "x23_dedup_survivors" -> s"""
      WITH RECURSIVE $simhashSql,
      banded AS (SELECT doc_id, sim, ${(0 until 4).map(b =>
        s"((sim >> ${b * 15}) & 32767) AS band$b").mkString(", ")} FROM sims),
      cand AS (SELECT DISTINCT d1, d2 FROM (${(0 until 4).map(b =>
        s"SELECT x.doc_id AS d1, y.doc_id AS d2 FROM banded x JOIN banded y ON x.band$b = y.band$b AND x.doc_id < y.doc_id").mkString(" UNION ALL ")})),
      p AS (SELECT c.d1, c.d2 FROM cand c JOIN sims x ON x.doc_id = c.d1 JOIN sims y ON y.doc_id = c.d2
            WHERE bit_count(xor(x.sim, y.sim)) <= 6),
      e AS (SELECT d1 AS s, d2 AS d FROM p UNION ALL SELECT d2 AS s, d1 AS d FROM p),
      n AS (SELECT DISTINCT s AS v FROM e),
      walk(v, lbl) AS (
        SELECT v, v FROM n
        UNION
        SELECT e.d, w.lbl FROM walk w JOIN e ON e.s = w.v),
      cl AS (SELECT v AS doc_id, MIN(lbl) AS cid FROM walk GROUP BY v),
      hr AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS hr FROM documents)
      SELECT h.doc_id,
        CASE WHEN h.hr > 1 THEN 'exact_dup'
             WHEN cl.doc_id IS NOT NULL AND cl.cid <> cl.doc_id THEN 'near_dup_member'
             ELSE 'kept' END AS status
      FROM hr h LEFT JOIN cl ON cl.doc_id = h.doc_id
      ORDER BY h.doc_id""",
    "x24_weighted_sample" -> s"""
      WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
      q AS (SELECT doc_id, ${qualitySql("text", "tk")} AS quality FROM t)
      SELECT doc_id, quality FROM q
      WHERE CAST(CAST('0x' || substr(md5('ws_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846976.0 < quality
      ORDER BY doc_id""",
    "x25_unigram_logprob" -> s"""
      WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      c AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
      n AS (SELECT SUM(c) AS n FROM c),
      s AS (SELECT t.doc_id,
              CAST(ROUND(LOG10(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
            FROM tok t JOIN c ON c.tok = t.tok CROSS JOIN n),
      m AS (SELECT doc_id, ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS mean_logp
            FROM s GROUP BY doc_id)
      SELECT d.doc_id, m.mean_logp
      FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    "x26_decontaminate" -> s"""
      WITH $hashedShingleCtes,
      bench AS (SELECT DISTINCT hs FROM sh WHERE doc_id % $DecontamMod = 0),
      hits AS (SELECT sh.doc_id, COUNT(*) AS n_hits
               FROM sh JOIN bench b ON b.hs = sh.hs
               WHERE sh.doc_id % $DecontamMod <> 0 GROUP BY sh.doc_id)
      SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        COALESCE(h.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % $DecontamMod <> 0
      ORDER BY d.doc_id""",
    "x27_boilerplate" -> s"""
      WITH $hashedShingleCtes,
      df AS (SELECT hs, COUNT(*) AS df FROM sh GROUP BY hs),
      per AS (SELECT sh.doc_id, COUNT(*) AS n_shingles,
                SUM(CASE WHEN df.df > $BoilerMaxDocs THEN 1 ELSE 0 END) AS n_common
              FROM sh JOIN df ON df.hs = sh.hs GROUP BY sh.doc_id)
      SELECT d.doc_id, CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
        CAST(COALESCE(p.n_common, 0) AS BIGINT) AS n_common,
        CASE WHEN p.n_shingles > 0
             THEN ROUND(CAST(p.n_common AS DOUBLE) / CAST(p.n_shingles AS DOUBLE), 6) END AS boiler_frac
      FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    "x28_budget_fill" -> s"""
      WITH t AS (SELECT doc_id, source, text, $toksSql AS tk FROM documents),
      b AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens,
              ${qualitySql("text", "tk")} AS quality
            FROM t WHERE len(tk) > 0),
      c AS (SELECT doc_id, source, n_tokens, quality,
              SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
                ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM b)
      SELECT doc_id, source, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM c WHERE cum_tokens <= $BudgetTokens
      ORDER BY source, cum_tokens, doc_id""",
    "x29_pack_sequences" -> s"""
      WITH t AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
      b AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens
            FROM t WHERE len(tk) > 0),
      c AS (SELECT doc_id, source, n_tokens,
              SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS end_tok FROM b)
      SELECT doc_id, source, n_tokens,
        CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
        CAST((end_tok - n_tokens) // $PackSeqLen AS BIGINT) AS first_seq,
        CAST((end_tok - 1) // $PackSeqLen AS BIGINT) AS last_seq
      FROM c ORDER BY source, doc_id""",
    // x30: every branch is its standalone query's oracle fragment,
    // composed; `toks` from lshCtes is reused by the hashed-shingle
    // branches (same definition).
    "x30_curation_pipeline" -> s"""
      WITH $lshCtes,
      sw AS (SELECT doc_id, text, tk, $stopCountsSql FROM toks
             JOIN (SELECT doc_id AS did, text FROM documents) d ON d.did = toks.doc_id),
      base AS (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          $langCaseSql AS pred_lang,
          ${qualitySql("text", "tk")} AS quality,
          ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS hash_rank
        FROM sw),
      g2 AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hg, COUNT(*) AS c FROM (
               SELECT doc_id, unnest(CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END) AS g
               FROM toks) GROUP BY 1, 2),
      rep AS (SELECT doc_id,
                ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS dup2
              FROM g2 GROUP BY doc_id),
      nd AS (SELECT DISTINCT d2 AS doc_id FROM jacp WHERE jac >= 0.8),
      hsh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hs
              FROM (SELECT doc_id, unnest($shinglesSql) AS s FROM toks)),
      bench AS (SELECT DISTINCT hs FROM hsh WHERE doc_id % $DecontamMod = 0),
      hits AS (SELECT hsh.doc_id, COUNT(*) AS n_hits FROM hsh JOIN bench b ON b.hs = hsh.hs
               WHERE hsh.doc_id % $DecontamMod <> 0 GROUP BY 1),
      bdf AS (SELECT hs, COUNT(*) AS df FROM hsh GROUP BY hs),
      bper AS (SELECT hsh.doc_id, COUNT(*) AS n_sh,
                 SUM(CASE WHEN bdf.df > $BoilerMaxDocs THEN 1 ELSE 0 END) AS n_common
               FROM hsh JOIN bdf ON bdf.hs = hsh.hs GROUP BY 1),
      boiler AS (SELECT doc_id, CASE WHEN n_sh > 0
                   THEN ROUND(CAST(n_common AS DOUBLE) / CAST(n_sh AS DOUBLE), 6) END AS bf
                 FROM bper)
      SELECT b.doc_id,
        CASE WHEN b.hash_rank > 1 THEN 'exact_dup'
             WHEN b.doc_id % $DecontamMod = 0 THEN 'benchmark'
             WHEN h.n_hits > 0 THEN 'contaminated'
             WHEN b.n_tokens < 20 THEN 'too_short'
             WHEN b.pred_lang NOT IN ('en') THEN 'lang'
             WHEN b.quality < 0.3 THEN 'low_quality'
             WHEN r.dup2 > 0.6 THEN 'repetitive'
             WHEN bo.bf > 0.5 THEN 'boilerplate'
             WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
             ELSE 'kept' END AS status
      FROM base b
      LEFT JOIN rep r ON r.doc_id = b.doc_id
      LEFT JOIN nd ON nd.doc_id = b.doc_id
      LEFT JOIN hits h ON h.doc_id = b.doc_id
      LEFT JOIN boiler bo ON bo.doc_id = b.doc_id
      ORDER BY b.doc_id""",
    // x31 is row-identical to x26 by construction (the Bloom prefilter
    // only reorders work; the exact verify join decides membership) —
    // the oracle is deliberately the SAME text, so any drift between
    // the two Spark paths fails the gate, not the oracle
    "x31_bloom_decontaminate" -> s"""
      WITH $hashedShingleCtes,
      bench AS (SELECT DISTINCT hs FROM sh WHERE doc_id % $DecontamMod = 0),
      hits AS (SELECT sh.doc_id, COUNT(*) AS n_hits
               FROM sh JOIN bench b ON b.hs = sh.hs
               WHERE sh.doc_id % $DecontamMod <> 0 GROUP BY sh.doc_id)
      SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        COALESCE(h.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % $DecontamMod <> 0
      ORDER BY d.doc_id""",
    "x32_bm25_topk" -> s"""
      WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
      stats AS (SELECT COUNT(*) AS n_docs, AVG(len(tk)) AS avgdl FROM t),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
             WHERE tok IN (${Bm25Terms.map(w => s"'$w'").mkString(", ")})
             GROUP BY doc_id, tok),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t),
      c AS (SELECT tf.doc_id,
              ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
                (tf.tf * ($Bm25K1 + 1.0)) /
                (tf.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl / s.avgdl)) AS c
            FROM tf JOIN df ON df.tok = tf.tok
            JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s)
      SELECT doc_id, ROUND(SUM(c), 6) AS bm25 FROM c GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""",
    // x34: the injection expression is interpolated from the SAME
    // Scala constants as the Spark plan; patterns sit in the shared
    // Java-regex/RE2 dialect subset
    "x34_pii_redact" -> s"""
      WITH inj AS (SELECT doc_id,
          text || ' contact user' || doc_id ||
          '@mail.example.com call 555-' ||
          lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
          ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ||
          ' end' AS t2
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t2, '$PiiEmailRe')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(t2, '$PiiPhoneRe')) AS BIGINT) AS n_phone,
        CAST(len(regexp_extract_all(t2, '$PiiIpRe')) AS BIGINT) AS n_ip,
        md5(regexp_replace(regexp_replace(regexp_replace(t2,
          '$PiiEmailRe', '<EMAIL>', 'g'),
          '$PiiPhoneRe', '<PHONE>', 'g'),
          '$PiiIpRe', '<IP>', 'g')) AS red_md5
      FROM inj ORDER BY doc_id""",
    "x35_chunk_dedup" -> s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      ch AS (SELECT doc_id, i AS idx,
               array_to_string(list_slice(tk, i * $ChunkTokens + 1, i * $ChunkTokens + $ChunkTokens), ' ') AS chunk
             FROM (SELECT doc_id, tk,
                     unnest(range(0, CAST(ceil(len(tk) / $ChunkTokens.0) AS INT))) AS i
                   FROM toks)),
      rk AS (SELECT doc_id, idx, chunk,
               ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rnk
             FROM ch)
      SELECT doc_id,
        COUNT(*) AS n_chunks,
        COUNT(*) FILTER (WHERE rnk = 1) AS n_kept,
        md5(COALESCE(string_agg(chunk, ' ' ORDER BY idx)
              FILTER (WHERE rnk = 1), '')) AS clean_md5
      FROM rk GROUP BY doc_id ORDER BY doc_id""",
    "x36_dsir_weights" -> s"""
      WITH toks AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
      bg AS (SELECT doc_id, source,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $DsirBuckets AS b
             FROM (SELECT doc_id, source,
                     unnest(CASE WHEN len(tk) >= 2
                       THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
                       ELSE [] END) AS s
                   FROM toks)),
      db AS (SELECT doc_id, source, b, COUNT(*) AS cnt FROM bg GROUP BY ALL),
      tgt AS (SELECT b, SUM(cnt) AS ct FROM db WHERE source = '$DsirTarget' GROUP BY b),
      raw AS (SELECT b, SUM(cnt) AS cr FROM db WHERE source <> '$DsirTarget' GROUP BY b),
      tot AS (SELECT (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt,
                     (SELECT COALESCE(SUM(cr), 0) FROM raw) AS tr),
      lr AS (SELECT COALESCE(t.b, r.b) AS b,
               ln((COALESCE(t.ct, 0) + 1.0) / (tt + $DsirBuckets.0)) -
               ln((COALESCE(r.cr, 0) + 1.0) / (tr + $DsirBuckets.0)) AS lr
             FROM tgt t FULL JOIN raw r ON t.b = r.b CROSS JOIN tot)
      SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
        ROUND(CAST(SUM(CAST(ROUND(d.cnt * lr.lr, 6) AS DECIMAL(18,6)))
          AS DOUBLE), 6) AS dsir_w
      FROM db d JOIN lr ON lr.b = d.b
      WHERE d.source <> '$DsirTarget'
      GROUP BY d.doc_id ORDER BY d.doc_id""",
    // x37: thresholds interpolated from the SAME Scala constants as
    // the Spark plan; ratio metrics are single IEEE divisions of
    // exact integer counts, so comparisons agree bit-for-bit
    "x37_gopher_rules" -> s"""
      WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
      m AS (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) AS mean_len,
          CAST(list_max(list_transform(list_distinct(tk), d -> len(list_filter(tk, x -> x = d)))) AS DOUBLE) / len(tk) AS top_frac,
          CAST(${Stopwords.map { case (_, words) =>
            val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
            s"len(list_filter(tk, x -> list_contains($lst, x)))"
          }.mkString(" + ")} AS BIGINT) AS stop_hits,
          CAST(len(list_filter(tk, x -> length(x) <= 1)) AS DOUBLE) / len(tk) AS short_frac
        FROM t WHERE len(tk) > 0),
      r AS (SELECT doc_id, n_tokens,
          n_tokens >= $GopherMinTokens AND n_tokens <= $GopherMaxTokens AS r_wc,
          mean_len >= $GopherMinMeanLen AND mean_len <= $GopherMaxMeanLen AS r_len,
          top_frac <= $GopherMaxTopFrac AS r_rep,
          stop_hits >= $GopherMinStopHits AS r_stop,
          short_frac <= $GopherMaxShortFrac AS r_short
        FROM m)
      SELECT doc_id, n_tokens, r_wc, r_len, r_rep, r_stop, r_short,
        CAST((CASE WHEN r_wc THEN 0 ELSE 1 END) + (CASE WHEN r_len THEN 0 ELSE 1 END) +
             (CASE WHEN r_rep THEN 0 ELSE 1 END) + (CASE WHEN r_stop THEN 0 ELSE 1 END) +
             (CASE WHEN r_short THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
        r_wc AND r_len AND r_rep AND r_stop AND r_short AS pass
      FROM r ORDER BY doc_id""",
    // x38: URL injection mirrors the Spark expression constant-for-
    // constant; the anchored strip regexes match at most once, so
    // DuckDB's first-match regexp_replace equals Spark's global one
    "x38_domain_caps" -> s"""
      WITH u AS (SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
          (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
          'Host' || CAST(doc_id % 40 AS VARCHAR) || '.Example.com/p/' ||
          CAST(doc_id AS VARCHAR) ||
          (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed' ELSE '' END) AS url
        FROM documents),
      c AS (SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(lower(url),
            '$UrlStripSchemeRe', ''), '$UrlStripWwwRe', ''),
            '$UrlStripQueryRe', '') AS canon_url
        FROM u),
      r AS (SELECT doc_id, canon_url,
          regexp_extract(canon_url, '$UrlHostRe') AS domain FROM c)
      SELECT doc_id, canon_url, domain,
        CAST(ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS BIGINT) AS rnk,
        ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) <= $DomainCap AS kept
      FROM r ORDER BY doc_id""",
    "x39_bigram_ppl" -> s"""
      WITH $bigramCeCtes
      SELECT doc_id, n_bigrams, ce, ROUND(exp(ce), 6) AS ppl
      FROM agg ORDER BY doc_id""",
    "x40_ppl_partition" -> s"""
      WITH $bigramCeCtes,
      cut AS (SELECT quantile_cont(ce, CAST(1 AS DOUBLE)/3) AS t1,
                     quantile_cont(ce, CAST(2 AS DOUBLE)/3) AS t2 FROM agg)
      SELECT a.doc_id, a.ce,
        CASE WHEN a.ce <= c.t1 THEN 'head'
             WHEN a.ce <= c.t2 THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM agg a CROSS JOIN cut c ORDER BY a.doc_id""",
    // x41: ROW_NUMBER over (rounded score DESC, doc_id) on each LIMIT-30
    // list == the Spark side's strictly-better-count (a total order)
    "x41_rrf_fusion" -> s"""
      WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
      dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t),
      stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
             WHERE tok IN (${Bm25Terms.map(w => s"'$w'").mkString(", ")})
             GROUP BY doc_id, tok),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      bc AS (SELECT tf.doc_id,
              ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
                (tf.tf * ($Bm25K1 + 1.0)) /
                (tf.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl / s.avgdl)) AS c
            FROM tf JOIN df ON df.tok = tf.tok
            JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s),
      bs AS (SELECT doc_id, ROUND(SUM(c), 6) AS bm25 FROM bc GROUP BY doc_id
             ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK),
      tc AS (SELECT tf.doc_id,
              (CAST(tf.tf AS DOUBLE) / dl.dl) *
                ln((CAST(s.n_docs AS DOUBLE) + 1.0) / (df.df + 1.0)) AS c
            FROM tf JOIN df ON df.tok = tf.tok
            JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s),
      ts AS (SELECT doc_id, ROUND(SUM(c), 6) AS tfidf FROM tc GROUP BY doc_id
             ORDER BY tfidf DESC, doc_id LIMIT $Bm25TopK),
      rb AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_bm25 FROM bs),
      rt AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY tfidf DESC, doc_id) AS BIGINT) AS r_tfidf FROM ts)
      SELECT COALESCE(rb.doc_id, rt.doc_id) AS doc_id, rb.r_bm25, rt.r_tfidf,
        ROUND(COALESCE(1.0 / ($RrfK + rb.r_bm25), 0.0) +
              COALESCE(1.0 / ($RrfK + rt.r_tfidf), 0.0), 6) AS rrf
      FROM rb FULL JOIN rt ON rt.doc_id = rb.doc_id
      ORDER BY rrf DESC, doc_id LIMIT $RrfOut""",
    "x42_delta_dedup" -> s"""
      WITH $simhashSql,
      fp AS (SELECT doc_id,
          md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents),
      cfp AS (SELECT fp, MIN(doc_id) AS corpus_id FROM fp
              WHERE doc_id % $DeltaMod <> 0 GROUP BY fp),
      dfp AS (SELECT doc_id, fp FROM fp WHERE doc_id % $DeltaMod = 0),
      fd AS (SELECT fp, MIN(doc_id) AS first_delta FROM dfp GROUP BY fp),
      db AS (SELECT s.doc_id, s.sim, b.b, (s.sim >> (b.b * 15)) & 32767 AS key
             FROM sims s CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
             WHERE s.doc_id % $DeltaMod = 0),
      cb AS (SELECT s.doc_id, s.sim, b.b, (s.sim >> (b.b * 15)) & 32767 AS key
             FROM sims s CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
             WHERE s.doc_id % $DeltaMod <> 0),
      near AS (SELECT d.doc_id, MIN(c.doc_id) AS near_id
               FROM db d JOIN cb c ON c.b = d.b AND c.key = d.key
               WHERE bit_count(xor(d.sim, c.sim)) <= 6
               GROUP BY d.doc_id)
      SELECT d.doc_id,
        CASE WHEN c.corpus_id IS NOT NULL THEN 'exact_dup_corpus'
             WHEN d.doc_id > f.first_delta THEN 'exact_dup_delta'
             WHEN n.near_id IS NOT NULL THEN 'near_dup_corpus'
             ELSE 'new' END AS status,
        CASE WHEN c.corpus_id IS NOT NULL THEN c.corpus_id
             WHEN d.doc_id > f.first_delta THEN f.first_delta
             ELSE n.near_id END AS dup_of
      FROM dfp d LEFT JOIN cfp c ON c.fp = d.fp
      JOIN fd f ON f.fp = d.fp
      LEFT JOIN near n ON n.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    // x43: sums feeding p_alpha are doubles reduced over ≤|sources|
    // rows on both engines; ROUND(_,6) absorbs association-order ULPs
    "x43_mixture_weights" -> s"""
      WITH t AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS n FROM documents),
      per AS (SELECT source, COUNT(*) AS n_docs, SUM(n) AS n_tokens
              FROM t GROUP BY source),
      tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt,
                SUM(pow(CAST(n_tokens AS DOUBLE), $MixAlpha)) AS ta FROM per)
      SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        ROUND(CAST(n_tokens AS DOUBLE) / tt, 6) AS p_raw,
        ROUND(pow(CAST(n_tokens AS DOUBLE), $MixAlpha) / ta, 6) AS p_alpha,
        ROUND((pow(CAST(n_tokens AS DOUBLE), $MixAlpha) / ta) /
              (CAST(n_tokens AS DOUBLE) / tt), 6) AS boost
      FROM per CROSS JOIN tot ORDER BY source""",
    "x44_dup_spans" -> s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      win AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hs
              FROM (SELECT doc_id, unnest(CASE WHEN len(tk) >= $DupSpanW
                  THEN list_transform(range(1, len(tk) - ${DupSpanW - 2}),
                    i -> array_to_string(tk[i:i + ${DupSpanW - 1}], ' '))
                  ELSE [] END) AS s FROM toks)),
      cnt AS (SELECT hs, COUNT(*) AS tot FROM win GROUP BY hs),
      pd AS (SELECT w.doc_id, COUNT(*) AS n_windows,
               CAST(SUM(CASE WHEN c.tot >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
             FROM win w JOIN cnt c ON c.hs = w.hs GROUP BY w.doc_id)
      SELECT d.doc_id,
        COALESCE(pd.n_windows, 0) AS n_windows,
        COALESCE(pd.n_dup, 0) AS n_dup_windows,
        CASE WHEN pd.n_windows > 0 THEN
          ROUND(CAST(pd.n_dup AS DOUBLE) / CAST(pd.n_windows AS DOUBLE), 6)
        END AS dup_frac
      FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    "x46_tfidf_keywords" -> s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
             GROUP BY doc_id, tok),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.tok, tf.tf,
               ROUND(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / df.df), 6) AS tfidf
             FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN nd),
      rk AS (SELECT doc_id, tok, tf, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, tok) AS BIGINT) AS rk
             FROM sc)
      SELECT doc_id, rk, tok, tf, tfidf
      FROM rk WHERE rk <= $TfidfK ORDER BY doc_id, rk""",
    "x47_token_entropy" -> s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      cnt AS (SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
              GROUP BY doc_id, tok),
      per AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types,
                SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 6)
                  AS DECIMAL(18,6))) AS clc
              FROM cnt GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
        COALESCE(per.n_types, 0) AS n_types,
        CASE WHEN per.n_tokens > 0 THEN
          ROUND(ln(CAST(per.n_tokens AS DOUBLE))
            - CAST(per.clc AS DOUBLE) / per.n_tokens, 6)
        END AS entropy,
        CASE WHEN per.n_tokens > 1 THEN
          ROUND((ln(CAST(per.n_tokens AS DOUBLE))
            - CAST(per.clc AS DOUBLE) / per.n_tokens)
            / ln(CAST(per.n_tokens AS DOUBLE)), 6)
        END AS norm_entropy
      FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    "x48_shard_assign" -> s"""
      WITH k AS (SELECT doc_id,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shard0'), 1, 15) AS BIGINT) AS hk
        FROM documents)
      SELECT doc_id, hk % $NumShards AS shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY hk % $NumShards
          ORDER BY hk, doc_id) AS BIGINT) AS pos
      FROM k ORDER BY shard, pos""",
    "x49_span_removal" -> s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      win AS (SELECT doc_id,
          unnest(CASE WHEN len(tk) >= $DupSpanW
            THEN range(1, len(tk) - ${DupSpanW - 2}) ELSE [] END) AS pos,
          CAST('0x' || substr(md5(unnest(CASE WHEN len(tk) >= $DupSpanW
            THEN list_transform(range(1, len(tk) - ${DupSpanW - 2}),
              i -> array_to_string(tk[i:i + ${DupSpanW - 1}], ' '))
            ELSE [] END)), 1, 15) AS BIGINT) AS hs
        FROM toks),
      f1 AS (SELECT hs, MIN(doc_id) AS fdoc FROM win GROUP BY hs),
      f2 AS (SELECT w.hs, f1.fdoc, MIN(w.pos) AS fpos
             FROM win w JOIN f1 ON f1.hs = w.hs AND w.doc_id = f1.fdoc
             GROUP BY w.hs, f1.fdoc),
      dup AS (SELECT w.doc_id, w.pos FROM win w JOIN f2 ON f2.hs = w.hs
              WHERE NOT (w.doc_id = f2.fdoc AND w.pos = f2.fpos)),
      rem AS (SELECT DISTINCT doc_id, pos + k.k AS idx
              FROM dup, (SELECT unnest(range(0, $DupSpanW)) AS k) k),
      tok AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS idx,
                unnest(tk) AS tok FROM toks),
      kept AS (SELECT t.doc_id, t.idx, t.tok FROM tok t
               LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.idx = t.idx
               WHERE r.doc_id IS NULL),
      rb AS (SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY idx) AS cleaned
             FROM kept GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
        COALESCE(rb.n_kept, 0) AS n_kept,
        md5(COALESCE(rb.cleaned, '')) AS cleaned_md5
      FROM toks t LEFT JOIN rb ON rb.doc_id = t.doc_id
      ORDER BY t.doc_id""",
    "x50_calibrated_quality" -> s"""
      WITH t AS (SELECT doc_id, source, text, $toksSql AS tk FROM documents),
      sc AS (SELECT doc_id, source, ${qualitySql("text", "tk")} AS quality FROM t),
      r AS (SELECT doc_id,
              ROUND(PERCENT_RANK() OVER (PARTITION BY source
                ORDER BY quality, doc_id), 6) AS pr
            FROM sc WHERE quality IS NOT NULL)
      SELECT sc.doc_id, sc.source, sc.quality, r.pr,
        COALESCE(r.pr >= $CalibKeepQuantile, FALSE) AS keep
      FROM sc LEFT JOIN r ON r.doc_id = sc.doc_id
      ORDER BY sc.doc_id""",
    "x63_mixture_materialize" -> s"""
      WITH t AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS n
                 FROM documents),
      per AS (SELECT source, SUM(n) AS n_tokens FROM t GROUP BY source),
      tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt,
                SUM(pow(CAST(n_tokens AS DOUBLE), $MixAlpha)) AS ta FROM per),
      w AS (SELECT source,
              ROUND((pow(CAST(n_tokens AS DOUBLE), $MixAlpha) / ta) /
                    (CAST(n_tokens AS DOUBLE) / tt), 6) AS boost
            FROM per CROSS JOIN tot),
      c AS (SELECT d.doc_id, d.source,
              CAST(FLOOR(w.boost) AS BIGINT) +
              CASE WHEN CAST('0x' || substr(md5(
                       '$MixCoinSalt' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 1000000
                   < CAST(ROUND((w.boost - FLOOR(w.boost)) * 1000000)
                       AS BIGINT)
                THEN 1 ELSE 0 END AS n_copies
            FROM documents d JOIN w USING (source))
      SELECT doc_id, source, n_copies, CAST(e AS BIGINT) AS epoch
      FROM (SELECT c.*, unnest(range(0, c.n_copies)) AS e
            FROM c WHERE c.n_copies > 0)
      ORDER BY doc_id, epoch""",
    "x64_sequence_pack" -> s"""
      WITH k AS (SELECT doc_id, n_tok,
                   CAST('0x' || substr(md5(
                     '$PackSalt' || CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) AS shuf
                 FROM (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok
                       FROM documents)
                 WHERE n_tok > 0),
      s AS (SELECT doc_id, n_tok, shuf,
              CAST(shuf % $PackShards AS INT) AS shard FROM k),
      c AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY shuf, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS endp
            FROM s),
      sp AS (SELECT doc_id, shard, endp - n_tok AS startp, endp FROM c),
      e AS (SELECT doc_id, shard, startp, endp,
              unnest(range(startp // $SeqPackLen,
                           (endp - 1) // $SeqPackLen + 1)) AS seq_id
            FROM sp)
      SELECT doc_id, shard, seq_id,
        least(seq_id * $SeqPackLen + $SeqPackLen, endp) -
          greatest(seq_id * $SeqPackLen, startp) AS tok_in_seq
      FROM e ORDER BY shard, seq_id, doc_id""",
  )
}
