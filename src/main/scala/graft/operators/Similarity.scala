package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (`vec_id, embedding: array<float>, label`).
  *
  * Cosine is computed by the native `graft_dot` in DOUBLE with
  * sequential accumulation — bit-identical to the DuckDB oracle's
  * `list_sum(list_transform(range(...)))` formula (verified to 17
  * significant digits), which is what lets top-k rankings hash-match.
  */
object Similarity {

  /** Sequential-order double dot product of two float-array columns. */
  def dot(a: String, b: String): Column = dotCols(col(a), col(b))

  /** Column-form dot: the codegen'd native
    * [[graft.functions.VectorDot]] — index-order double accumulation
    * over the common prefix (min-length sum). */
  def dotCols(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Squared Euclidean distance Σ (a(i)−b(i))² over the common prefix,
    * in the numerically exact elementwise-difference form (NOT
    * ‖a‖²+‖b‖²−2a·b, which cancels catastrophically near coincident
    * points): the codegen'd native [[graft.functions.VectorDist2]],
    * cheap enough for join-condition use, where it runs once per
    * candidate pair (see the expression's scaladoc). */
  def dist2Cols(a: Column, b: Column): Column = call_function("graft_dist2", a, b)

  def norm(a: String): Column = sqrt(dotCols(col(a), col(a)))

  def cosine(a: String, b: String): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** x08 brute-force cosine top-k: the small fixed query set (vec_id <
    * nQueries) is broadcast against the full corpus — one narrow pass
    * over the big side, a per-query top-k via window, no all-pairs
    * blowup. This is the exact baseline the ANN variants are recalled
    * against.
    *
    * Rank discipline (the x46 lesson, applied to every cosine rank in
    * this file): windows order by `round(cos_raw, 6)` with an id
    * tiebreak, never the raw double — each engine recomputes the
    * denominator sums independently, and a last-ulp divergence on
    * near-tied cosines would otherwise flip ranks across engines.
    * Oracles mirror `ORDER BY ROUND(cos_raw, 6) DESC, id` verbatim. */
  def bruteForceTopK(t: Tables, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val queries = t.embeddings
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = graft.core.Fanout.widen(t.embeddings)
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("embedding", "qe").as("cos_raw"))
    scored
      .withColumn("rk",
        row_number().over(
          Window.partitionBy("qid")
            .orderBy(round(col("cos_raw"), 6).desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 6).as("cos"),
        col("rk"))
      .orderBy("qid", "rk")
  }

  /** Number of sign bits in the random-hyperplane sketch (4 bands of
    * 16 bits — see [[bandedCandidates]]). */
  val SketchBits = 64

  /** Band layout for LSH blocking: candidates must agree on at least
    * one full 16-bit band, so every band key space has 2^16 buckets —
    * a single hot bucket can hold at most ~n/65536 of a uniformly
    * sketched corpus, vs n/256 with the previous single 8-bit sketch. */
  val NumBands = 4
  val BandBits: Int = SketchBits / NumBands

  /** Gate-wiring verify threshold. The synthetic embeddings have no
    * true near-dups, and the 4×16-bit blocking is (correctly) very
    * selective — 12 candidate pairs out of 124,750 at sf0.01 — so the
    * gate verifies at 0.15 to keep a non-trivial row count (6 rows).
    * Shared by the Spark plan and the generated DuckDB oracle. */
  val NearDupGateThreshold = 0.15

  /** Max embedding dimension covered by the precomputed hyperplanes. */
  val MaxDim: Int = graft.functions.Hyperplanes.MaxDim

  /** Banded LSH candidate pairs: vectors agreeing on ≥1 full band.
    * Each vector explodes into NumBands (band, key) rows; the self-join
    * is per-band equi on (b, key) — never all-pairs — and a pair
    * agreeing in several bands is deduped before the (expensive) exact
    * cosine verify. All 64 sign bits come from ONE fused
    * `graft_band_keys` pass over the deterministic hyperplanes
    * ([[graft.functions.Hyperplanes]], the oracle's [[projSql]]
    * formula precomputed on the driver). Exposed for the scale spec,
    * which asserts candidate count stays near-linear on a synthetic 10×
    * blowup. */
  private[graft] def bandedCandidates(emb0: DataFrame,
                                      numBands: Int = NumBands,
                                      bandBits: Int = BandBits): DataFrame = {
    // sketching is numBands*bandBits*dim multiplies per vector — widen
    // an under-split scan before the fan-out (identity at scale)
    val emb = graft.core.Fanout.widen(emb0)
    val banded = emb.select(col("vec_id"), col("embedding"),
      posexplode(call_function("graft_band_keys",
        col("embedding"), lit(numBands), lit(bandBits)))
        .as(Seq("b", "key")))
    banded.as("x")
      .join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        col("x.embedding").as("e1"), col("y.embedding").as("e2"))
      .distinct()
  }

  /** x09 near-duplicate vectors: all pairs with cosine above a high
    * threshold, via random-hyperplane LSH blocking (64 sign bits in
    * 4×16-bit bands, [[bandedCandidates]]) + exact verification of the
    * deduped candidates — the scale path avoids the n² cross join:
    * near-identical vectors agree on a full band w.h.p., while the
    * 2^16-bucket key space per band keeps every bucket (and hence the
    * Σ bucket² verify cost) bounded. */
  def cosineNearDup(t: Tables, threshold: Double = 0.9,
                    numBands: Int = NumBands,
                    bandBits: Int = BandBits): DataFrame =
    bandedCandidates(t.embeddings, numBands, bandBits)
      .select(col("v1"), col("v2"), cosine("e1", "e2").as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos_raw"), 6).as("cos"))
      .orderBy("v1", "v2")

  /** x14 IVF approximate top-k — the cluster-scale ANN path: a k-means
    * coarse quantizer (`nlist` centroids, seeded) partitions the
    * corpus; each query probes only its `nprobe` nearest cells, so the
    * scored fraction is ~`nprobe/nlist` of the corpus instead of all
    * of it. Same output schema as [[bruteForceTopK]] (its exact
    * baseline for recall measurement). Centroid assignment is one
    * MLlib KMeans fit + transform; the probe map is a broadcast join.
    * Not oracle-gated (k-means float iteration is not reproducible in
    * SQL) — covered by the recall spec instead. */
  /** Seeded Lloyd k-means on a driver-side sample — how IVF quantizers
    * are actually trained at scale (faiss trains on a bounded subset;
    * the corpus itself never iterates). k-means++-style seeding from
    * the seeded RNG, then `iters` Lloyd rounds. */
  private[operators] def trainQuantizer(sample: Array[Array[Double]],
                                        nlist: Int, iters: Int,
                                        seed: Long): Array[Array[Double]] = {
    val rng = new java.util.SplittableRandom(seed)
    val n = sample.length
    val dim = sample.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // k-means++ seeding with the standard incremental min-distance
    // update: dists(i) is maintained as the running min over chosen
    // centers (exact same values as recomputing the min each draw, so
    // the selected centers are bit-identical), making seeding
    // O(n·nlist·dim) instead of O(n·nlist²·dim) — at production
    // quantizer sizes (nlist 10³–10⁵) the quadratic form was a
    // driver-side wall (measured: 25 min at nlist=256/20k samples,
    // found by the 1M-vector ANN soak)
    val centers = scala.collection.mutable.ArrayBuffer(sample(rng.nextInt(n)))
    val dists = sample.map(v => d2(v, centers(0)))
    while (centers.length < math.min(nlist, n)) {
      val total = dists.sum
      if (total <= 0) centers += sample(rng.nextInt(n))
      else {
        var r = rng.nextDouble() * total; var i = 0
        while (i < n - 1 && r > dists(i)) { r -= dists(i); i += 1 }
        centers += sample(i)
      }
      val c = centers.last
      var i = 0
      while (i < n) {
        val d = d2(sample(i), c); if (d < dists(i)) dists(i) = d; i += 1
      }
    }
    var cs = centers.toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          val d = d2(v, cs(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0; while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cs = cs.indices.map { c =>
        if (counts(c) == 0) cs(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    cs
  }

  /** Trained-quantizer snapshot — the material the generated x14
    * DuckDB oracle is built from. The whole pipeline is deterministic
    * (value-hashed sample, seeded k-means), so emitting the trained
    * centroids as SQL literals lets the oracle reproduce assignment +
    * probe + scoring exactly. */
  private[operators] final case class IvfModel(
      centroids: Array[Array[Double]], nQueries: Int, k: Int, nprobe: Int)

  /** Gate parameters for x14/x17 (the defaults of [[ivfTopK]] /
    * [[kmeansCells]]). The generated oracles look these up specifically
    * rather than taking "whatever trained last", so a spec training
    * with different settings between the gate run and the oracle dump
    * cannot clobber the emitted SQL. */
  private[operators] val GateNlist = 16
  private[operators] val GateSeed = 42L
  private[operators] val GateMaxTrain = 20000
  private val GateNQueries = 10

  /** x59 media-ANN gate parameters: 32-bin byte-histogram features,
    * a smaller cell count than x14 (the feature space is coarser),
    * every 10th media item as the query batch. */
  private val MediaDim = 32
  private val MediaNlist = 8
  private val MediaQMod = 10L
  private val MediaK = 5
  private val MediaNprobe = 3
  private val GateK = 10
  private val GateNprobe = 4

  /** Centroids keyed by the parameters that determine them PLUS the
    * input-frame tag (for fixed input data — Verify trains and dumps
    * within one run over one SF dir, so data identity is given). The
    * tag keeps x59's media-feature quantizer from clobbering x14's
    * embedding quantizer if their (nlist, seed, maxTrain) ever
    * coincide. */
  private[operators] final case class QuantKey(nlist: Int, seed: Long,
                                               maxTrain: Int,
                                               tag: String = "embeddings")
  private val trainedQuantizers =
    new java.util.concurrent.ConcurrentHashMap[QuantKey, Array[Array[Double]]]()

  /** Train the seeded quantizer on a bounded value-hashed sample and
    * assign every corpus vector to its nearest centroid — the shared
    * front half of [[ivfTopK]] and [[kmeansCells]]. Assignment is the
    * argmax over centroids of 2·x·c − |c|² (equivalent to
    * nearest-centroid), each dot a codegen'd graft_dot against a
    * literal array — one narrow pass, no MLlib jobs. */
  private def trainAndAssign(t: Tables, nlist: Int, seed: Long,
                             maxTrain: Int): (DataFrame, Array[Array[Double]]) =
    trainAndAssignFrom(graft.core.Fanout.widen(t.embeddings),
      nlist, seed, maxTrain, tag = "embeddings")

  /** [[trainAndAssign]] over an arbitrary `(vec_id, embedding:
    * array<float>)` frame — the seam that lets any feature source
    * (x59: media byte-histograms) feed the same quantizer/assignment
    * machinery the embeddings table does. */
  private def trainAndAssignFrom(emb: DataFrame, nlist: Int, seed: Long,
                                 maxTrain: Int, tag: String)
  : (DataFrame, Array[Array[Double]]) = {
    // quantizer trained on a bounded, deterministic (value-hashed)
    // sample — the corpus never iterates, so fit cost is O(maxTrain)
    // regardless of corpus size
    val sample = emb
      .orderBy(xxhash64(col("embedding"), lit(seed)), col("vec_id"))
      .limit(maxTrain)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val centroids = trainQuantizer(sample, nlist, iters = 5, seed = seed)
    trainedQuantizers.put(QuantKey(nlist, seed, maxTrain, tag), centroids)
    (assignCells(emb, centroids), centroids)
  }

  /** Nearest-centroid cell assignment of a `(vec_id, embedding)` frame
    * against FROZEN centroids — the encode half of
    * [[trainAndAssignFrom]], shared with [[absorbDelta]] so absorbed
    * deltas are coded by exactly the index's trained state (the faiss
    * `add()` contract: adding vectors never retrains). */
  private def assignCells(emb: DataFrame,
                          centroids: Array[Array[Double]]): DataFrame = {
    // Centroid argmax is nlist x dim multiplies per vector — the
    // amplifying step a single-split scan would serialize (hence the
    // widen). The whole argmax is ONE native expression holding the
    // centroid matrix as a codegen reference object (sequential dot,
    // 2*dot − |c|² score, first max wins); a composed
    // per-centroid-literal form grows generated code linearly in nlist
    // and collapsed to ~11 MFLOP/s at nlist=256 on 1M vectors.
    val cellCol = call_function("graft_nearest_centroid", col("embedding"),
      typedLit(centroids.map(_.toSeq).toSeq))
    // coalesce marks the join key non-nullable (embeddings are non-null
    // by contract), so downstream equi-joins on `cell` don't inject an
    // `isnotnull(cell)` filter that would re-evaluate the whole argmax
    // a second time below the exchange (observed in the x14 1M plan)
    emb
      .withColumn("cell", coalesce(cellCol, lit(-1)))
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** A built IVF index: trained coarse quantizer + the cell-assigned
    * corpus — the build-once/query-many form of [[ivfTopK]] (which
    * rebuilds per call, as the oracle gate requires). `assigned` is
    * persisted by [[buildIvfIndex]]; callers own its release
    * (`index.release()`). */
  final case class IvfIndex(assigned: DataFrame,
                            centroids: Array[Array[Double]]) {
    def release(): Unit = assigned.unpersist(blocking = false)
  }

  /** Build the IVF index once: train the bounded-sample quantizer,
    * assign every corpus vector to its cell, persist the (narrow)
    * assigned table. Index build is the amortized cost — at 1M x 64
    * dims it is the ~nlist·dim-per-vector argmax pass (SOAK_ann.md);
    * every subsequent query batch pays only ~nprobe/nlist of a corpus
    * scan. */
  def buildIvfIndex(t: Tables, nlist: Int = GateNlist,
                    seed: Long = GateSeed,
                    maxTrain: Int = GateMaxTrain): IvfIndex = {
    val (assigned, centroids) = trainAndAssign(t, nlist, seed, maxTrain)
    IvfIndex(
      assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      centroids)
  }

  /** [[buildIvfIndex]] over an arbitrary `(vec_id, embedding:
    * array<float>)` frame — any feature source (x59's media
    * byte-histograms, a text-embedding join, …) gets the same
    * build-once index artifact. `tag` namespaces the trained-quantizer
    * snapshot (oracle generation) per input source. */
  def buildIvfIndexFrom(emb: DataFrame, nlist: Int = GateNlist,
                        seed: Long = GateSeed,
                        maxTrain: Int = GateMaxTrain,
                        tag: String = "custom"): IvfIndex = {
    val (assigned, centroids) =
      trainAndAssignFrom(emb, nlist, seed, maxTrain, tag)
    IvfIndex(
      assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      centroids)
  }

  /** Persist a built [[IvfIndex]] to `path` as engine-native parquet:
    * the cell-assigned corpus under `path/assigned` and the trained
    * centroids under `path/model`. Like faiss's IVFFlat file, the
    * index CONTAINS the vectors (exact scoring reads them on the
    * probed sliver), so this is a ~1× corpus copy — the price of a
    * session-independent exact-scoring index; [[savePqIndex]] is the
    * ~3%-of-corpus alternative when ADC scoring suffices. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.assigned.write.mode("overwrite").parquet(s"$path/assigned")
    Seq(Tuple1(index.centroids.map(_.toSeq).toSeq)).toDF("centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
  }

  /** Load a [[saveIvfIndex]] artifact; the loaded assigned table is
    * persisted for query-many use, callers own the release. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfIndex = {
    val m = spark.read.parquet(s"$path/model").collect()(0)
    val centroids = m.getSeq[scala.collection.Seq[Double]](
      m.fieldIndex("centroids")).map(_.toArray).toArray
    IvfIndex(
      spark.read.parquet(s"$path/assigned")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      centroids)
  }

  /** Fold a `(vec_id, embedding)` delta into a built [[IvfIndex]],
    * emitting the index for the NEXT batch — incremental, O(delta):
    * only the delta runs the nearest-centroid argmax, against the
    * index's FROZEN centroids (the faiss `add()` contract: adding
    * vectors never retrains, so cell balance degrades only as far as
    * the delta's distribution drifts from the trained sample — the
    * same stability/recall trade [[TextQueries.absorbDelta]] makes for
    * dedup survivors). Delta `vec_id`s are the caller's to keep
    * disjoint from the corpus (the ingestion-stream invariant). The
    * returned assigned table is persisted; releasing the input index
    * after the new one materializes is the caller's choice. */
  def absorbDelta(index: IvfIndex, delta: DataFrame): IvfIndex =
    IvfIndex(
      index.assigned.unionByName(
        assignCells(delta.select(col("vec_id"), col("embedding")),
          index.centroids))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      index.centroids)

  /** x59 media-similarity top-k — multimodal wired into the ANN path
    * end-to-end: the documents table's text payloads stand in as
    * opaque binary media (`media_id` = doc_id, bytes = UTF-8 payload,
    * the sanctioned codec boundary), [[Multimodal.extractFeatures]]
    * featurizes them with the deterministic byte-histogram stand-in,
    * and the features flow through [[buildIvfIndexFrom]] →
    * [[ivfQuery]] exactly as corpus embeddings would. Every 10th
    * media item queries the index for its `MediaK` nearest neighbors.
    *
    * Scale shape: featurize is one partition-preserving pass (widened
    * — it amplifies bytes into `MediaDim` bins), index build is the
    * bounded-sample quantizer + one argmax pass, each query batch
    * touches ~nprobe/nlist of the corpus. Swapping the stand-in
    * featurizer for a real CNN/CLIP decoder changes none of this
    * plumbing. */
  def mediaIvfTopK(t: Tables): DataFrame = {
    val media = t.documents.select(
      col("doc_id").as("media_id"),
      lit("text/plain").as("media_type"),
      col("text").cast("binary").as("bytes"),
      lit(null).cast(Multimodal.mediaSchema("meta").dataType).as("meta"))
    val feats = Multimodal.extractFeatures(
      graft.core.Fanout.widen(media), MediaDim)
    val emb = feats.select(
      col("media_id").as("vec_id"), col("feature").as("embedding"))
    val index = buildIvfIndexFrom(emb, MediaNlist, GateSeed, GateMaxTrain,
      tag = "media")
    // query batch reads the cached index, not a re-featurize pass
    val queries = index.assigned.filter(col("vec_id") % MediaQMod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val out = ivfQuery(index, queries, MediaK, MediaNprobe)
    TextQueries.unpersistAfterFirstUse(out, index.assigned)
  }

  /** Query a built index with an arbitrary (qid, qe) batch: nprobe
    * nearest cells per query (driver math over the bounded centroid
    * set), probe map broadcast onto the assigned corpus, exact cosine
    * on the probed sliver, per-query top-k. Identical output to
    * [[ivfTopK]] when given its query set. */
  def ivfQuery(index: IvfIndex, queryDf: DataFrame, k: Int = GateK,
               nprobe: Int = GateNprobe): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val queries = queryDf.select(col("qid"), col("qe"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probes = queries.flatMap { case (qid, qe) =>
      index.centroids.zipWithIndex.map { case (c, ci) =>
        val d = c.zip(qe).map { case (a, b) => (a - b) * (a - b) }.sum
        (qid, ci, d)
      }.sortBy(p => (p._3, p._2)).take(nprobe).map(p => (qid, p._2))
    }.toSeq.toDF("qid", "cell")
    val scored = index.assigned
      .join(broadcast(probes), "cell")
      .join(broadcast(queryDf.select(col("qid"), col("qe"))), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine("embedding", "qe").as("cos_raw"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(round(col("cos_raw"), 6).desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 6).as("cos"), col("rk"))
      .orderBy("qid", "rk")
  }

  def ivfTopK(t: Tables, nQueries: Int = GateNQueries, k: Int = GateK,
              nlist: Int = GateNlist, nprobe: Int = GateNprobe,
              seed: Long = GateSeed,
              maxTrain: Int = GateMaxTrain): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val (assigned, centroids) = trainAndAssign(t, nlist, seed, maxTrain)
    // nprobe nearest centroids per query vector (driver: nQueries × nlist)
    val queries = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probes = queries.flatMap { case (qid, qe) =>
      centroids.zipWithIndex.map { case (c, ci) =>
        val d = c.zip(qe).map { case (a, b) => (a - b) * (a - b) }.sum
        (qid, ci, d)
      }.sortBy(p => (p._3, p._2)).take(nprobe).map(p => (qid, p._2))
    }.toSeq.toDF("qid", "cell")
    val queryDf = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = assigned
      .join(broadcast(probes), "cell")
      .join(broadcast(queryDf), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine("embedding", "qe").as("cos_raw"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(round(col("cos_raw"), 6).desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 6).as("cos"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** x17 corpus clustering: every vector assigned to its nearest
    * trained centroid, summarized per cell — the cluster-balanced
    * sampling / curriculum bucketing primitive of a training-data
    * pipeline. Integer-only output columns (count + id range per cell)
    * so the hash gate is immune to distributed float-sum ordering; the
    * oracle reproduces assignment from the emitted centroid literals
    * exactly like x14. */
  def kmeansCells(t: Tables, nlist: Int = GateNlist, seed: Long = GateSeed,
                  maxTrain: Int = GateMaxTrain): DataFrame = {
    val (assigned, _) = trainAndAssign(t, nlist, seed, maxTrain)
    assigned
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n"),
        min("vec_id").as("min_vec"), max("vec_id").as("max_vec"))
      .orderBy("cell")
  }

  /** x33 gate threshold — like [[NearDupGateThreshold]], set low
    * enough that the synthetic embeddings (max pairwise cosine ≈ 0.51)
    * produce a non-trivial dup set; real corpora use ~0.95+. */
  private[operators] val SemDedupGateThreshold = 0.30

  /** x33 semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then
    * search for near-duplicates only WITHIN each cluster — the
    * published recipe that turns the O(n²) embedding-dedup problem
    * into Σ|cell|², with cluster count the scale knob (cells sized to
    * a bounded pairwise budget; SemDeDup itself uses ~10⁵ clusters at
    * web-corpus scale, keeping E|cell| in the hundreds).
    *
    * Deterministic keep-rule, no transitive closure: a vector is a
    * duplicate iff some LOWER-id vector in its cell has cosine ≥
    * `threshold` against it (first-id-wins, the same survivor
    * convention as x23). `prior_cos` reports the best such cosine
    * (null for a cell's first/only member). The pairwise max compares
    * exact doubles — order-independent — so the gate hash is immune to
    * aggregation order.
    *
    * Scale shape: one `trainAndAssign` pass (bounded-sample quantizer,
    * argmax assignment against literal centroids), then a self-join
    * keyed on `cell`. At gate nlist=16 the cell key is coarse; at
    * production cluster counts the join key has ~10⁵ values and the
    * per-cell pairwise work is the bounded budget by construction —
    * a hot cell (skewed cluster) is the one operational watch item,
    * SemDeDup's own caveat. */
  def semanticDedup(t: Tables, threshold: Double = SemDedupGateThreshold,
                    nlist: Int = GateNlist, seed: Long = GateSeed,
                    maxTrain: Int = GateMaxTrain): DataFrame = {
    val (assigned, _) = trainAndAssign(t, nlist, seed, maxTrain)
    val x = assigned.select(col("cell"), col("vec_id").as("u"),
      col("embedding").as("ue"))
    val y = assigned.select(col("cell"), col("vec_id").as("v"),
      col("embedding").as("ve"))
    val cos = dotCols(col("ue"), col("ve")) /
      (sqrt(dotCols(col("ue"), col("ue"))) * sqrt(dotCols(col("ve"), col("ve"))))
    val best = x.join(y, "cell")
      .filter(col("u") < col("v"))
      .select(col("v").as("vec_id"), cos.as("c"))
      .groupBy("vec_id").agg(max("c").as("mc"))
    assigned.select(col("vec_id"), col("cell"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("mc"), 6).as("prior_cos"),
        coalesce(col("mc") >= threshold, lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** x51 benchmark-membership rule: every 50th vector (10 of 500 at
    * sf0.01) stands in for the held-out eval set; real pipelines load
    * the benchmark embeddings from a side table of the same shape. */
  private[operators] val DeconBenchMod = 50
  private[operators] val DeconBenchRem = 3

  /** x51 gate threshold — like [[SemDedupGateThreshold]], low enough
    * that the synthetic embeddings (max pairwise cosine ≈ 0.51) flag a
    * non-trivial contaminated set; real corpora use ~0.9+. */
  private[operators] val SemDeconGateThreshold = 0.30

  /** x51 SEMANTIC decontamination: flag corpus vectors whose maximum
    * cosine against a (small) benchmark embedding set exceeds a
    * threshold — the embedding-space member of the decontamination
    * family (x26 = exact n-gram overlap, x31 = Bloom-prefiltered
    * n-gram; this catches paraphrased benchmark leakage that lexical
    * overlap misses — cf. the SemDeDup/D4 embedding-dedup line of work
    * applied corpus-vs-benchmark instead of within-corpus as x33).
    *
    * Scale shape: eval sets are tiny (10²–10⁴ vectors) so the bench
    * side broadcasts and the corpus makes ONE narrow pass — a
    * BroadcastNestedLoopJoin costing |bench|·dim multiplies per corpus
    * row, embarrassingly parallel, no shuffle of the big side; the
    * per-vector argmax window partitions by vec_id (billions of
    * 1-group partitions, never corpus-global). For benchmark sets too
    * large to broadcast, route through [[buildIvfIndex]]/[[ivfQuery]]
    * with the benchmark as the query batch instead.
    *
    * Contract: embeddings are non-zero-norm (the corpus tables
    * guarantee it; a real pipeline's embedder never emits zeros). A
    * zero-norm vector on either side would make `cos_raw` NaN — its
    * `contaminated` flag silently false and its argmax NaN-ordering-
    * dependent — so feed pre-filtered embeddings if zeros can occur
    * upstream (r8 ADVICE). */
  def semDecontaminate(t: Tables, threshold: Double = SemDeconGateThreshold,
                       benchMod: Int = DeconBenchMod,
                       benchRem: Int = DeconBenchRem): DataFrame = {
    val bench = t.embeddings
      .filter(col("vec_id") % benchMod === benchRem)
      .select(col("vec_id").as("bench_id"), col("embedding").as("be"))
    val corpus = graft.core.Fanout.widen(t.embeddings)
      .filter(col("vec_id") % benchMod =!= benchRem)
    val scored = corpus.crossJoin(broadcast(bench))
      .select(col("vec_id"), col("bench_id"),
        (dotCols(col("embedding"), col("be")) /
          (sqrt(dotCols(col("embedding"), col("embedding"))) *
            sqrt(dotCols(col("be"), col("be"))))).as("cos_raw"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(round(col("cos_raw"), 6).desc, col("bench_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("bench_id"),
        round(col("cos_raw"), 6).as("cos"),
        (col("cos_raw") >= threshold).as("contaminated"))
      .orderBy("vec_id")
  }

  /** x53 coreset size (gate). Production data-pruning runs use k in
    * the 10³–10⁵ range; the greedy is O(k) distributed passes. */
  private[operators] val KcGateK = 8

  /** x53 k-center coreset selection — greedy farthest-point traversal
    * (Gonzalez 1985 2-approximation; the coreset rule behind
    * diversity-based training-data pruning, cf. Sener & Savarese 2018
    * active-learning coresets and the D4 pipeline's dedup-then-
    * diversify stage). Starting from the minimum vec_id, each round
    * adds the vector farthest (squared Euclidean) from the chosen set;
    * the selected radius sequence is exactly the k-center coverage
    * radius after each pick — monotone nonincreasing, the stopping
    * signal real pruning runs watch.
    *
    * Scale shape: the chosen set lives on the driver (k × dim doubles,
    * bounded by design); each round is ONE narrow corpus pass — the
    * running min-distance column is updated incrementally against only
    * the newest center (exact: min is associative over exact doubles),
    * and the argmax is a TakeOrdered(1), never a global sort. Lineage
    * is cut every 16 rounds with localCheckpoint so production k
    * doesn't accumulate a k-deep plan. Total cost O(k · scan), the
    * published algorithm's lower bound without sketching. */
  def kcenterCoreset(t: Tables, k: Int = KcGateK): DataFrame = {
    val spark = t.spark
    val emb = graft.core.Fanout.widen(t.embeddings)
      .select(col("vec_id"), col("embedding"))
    val seed = emb.orderBy("vec_id").limit(1).collect()
    if (seed.isEmpty)
      // empty corpus → empty coreset with the declared schema, not an
      // ArrayIndexOutOfBounds from the seed pick (r8 ADVICE)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("step",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("radius",
            org.apache.spark.sql.types.DoubleType))))
    val first = seed(0)
    val chosen = scala.collection.mutable.ArrayBuffer(
      (first.getLong(0), first.getSeq[Float](1).toArray.map(_.toDouble),
        Option.empty[Double]))
    var mind = emb.withColumn("mind",
      dist2Cols(col("embedding"), lit(chosen.head._2)))
    var round8 = 1
    var exhausted = false
    while (round8 < k && !exhausted) {
      val ids = chosen.map(_._1).toSeq
      val top = mind.filter(!col("vec_id").isInCollection(ids))
        .orderBy(col("mind").desc, col("vec_id"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        val c = r.getSeq[Float](1).toArray.map(_.toDouble)
        chosen += ((r.getLong(0), c, Some(r.getDouble(2))))
        mind = mind.withColumn("mind",
          least(col("mind"), dist2Cols(col("embedding"), lit(c))))
        if (round8 % 16 == 0) mind = mind.localCheckpoint()
      }
      round8 += 1
    }
    import spark.implicits._
    chosen.zipWithIndex.map { case ((id, _, rad), i) => (i, id, rad) }
      .toSeq.toDF("step", "vec_id", "radius")
      .select(col("step"), col("vec_id"), round(col("radius"), 6).as("radius"))
      .orderBy("step")
  }

  // ---- x60 product quantization (ADC) --------------------------------------

  /** x60 PQ geometry: the 64-dim embeddings split into [[PqM]] = 8
    * subspaces of [[PqDsub]] = 8 dims, each coded against [[PqKsub]] =
    * 16 per-subspace centroids (Jégou et al. 2011). Eight small codes
    * replace 64 floats — 256 B/vector → 4 B nibble-packed — which is the
    * compression that lets a 100 TB embedding corpus live in executor
    * memory for ADC scans; the raw-vector scan variants (x08/x14) read
    * 32× the bytes per candidate. */
  private[operators] val PqM = 8
  private[operators] val PqDsub = 8
  private[operators] val PqKsub = 16
  private val PqNQueries = 10
  private val PqK = 10

  /** Trained PQ codebooks ([m][ksub][dsub]), keyed by the parameters
    * that determine them — the generated x60 oracle reads the
    * gate-parameter entry specifically, like [[QuantKey]] for x14. */
  private[operators] final case class PqKey(m: Int, ksub: Int, seed: Long,
                                            maxTrain: Int,
                                            tag: String = "raw")
  private val trainedPq = new java.util.concurrent.ConcurrentHashMap[
    PqKey, Array[Array[Array[Double]]]]()

  /** Per-subspace code: nearest codebook centroid of the vector's
    * `sub`-th 8-dim slice — the same argmax of 2·x·c − |c|² (first
    * index wins ties) as coarse assignment, so the native expression
    * and the [[assignCtes]]-style SQL mirror both apply unchanged. */
  private def pqCodeCol(sub: Int, cents: Array[Array[Double]]): Column =
    call_function("graft_nearest_centroid",
      slice(col("embedding"), sub * PqDsub + 1, PqDsub),
      typedLit(cents.map(_.toSeq).toSeq))

  /** x60 exhaustive PQ-ADC top-k (the faiss `IndexPQ` shape; IVF-PQ is
    * this composed with [[buildIvfIndexFrom]]'s cell filter). The
    * corpus is encoded ONCE into `PqM` codes per vector; each query
    * precomputes an ADC lookup table (`PqM`×`PqKsub` subspace dots —
    * driver math over the bounded codebooks) and every candidate then
    * costs `PqM` table lookups + adds instead of a 64-dim dot. The
    * reported score is the cosine of the query against the candidate's
    * PQ RECONSTRUCTION — numerator and reconstruction norm are both
    * code-determined, so they decompose into per-subspace terms.
    *
    * Order-independence discipline (the r8 x47 lesson, applied from
    * birth): each subspace term is rounded to 9 dp and accumulated
    * EXACTLY — as pre-rounded nano-unit longs ([[roundNano]], the
    * round-10 form; value-identical to the original per-row
    * DECIMAL(28,9) fold the oracle still mirrors with SUM over rounded
    * decimals) — so the 8-term fold cannot depend on evaluation order.
    * Term error ≤ 8·5e-10, three orders under the 6-dp output grain.
    *
    * Scale shape: one bounded-sample codebook train (corpus never
    * iterates), one encode pass (narrow: one packed-codes int per vector), one
    * broadcast of the ≤nQueries-row LUT frame against the codes table,
    * per-query top-k window over k·|corpus| candidate rows. No
    * all-pairs, no corpus-global window, shuffle only at the final
    * per-query rank. */
  def pqAdcTopK(t: Tables, nQueries: Int = PqNQueries, k: Int = PqK,
                seed: Long = GateSeed, maxTrain: Int = GateMaxTrain): DataFrame = {
    val spark = t.spark
    val emb = graft.core.Fanout.widen(t.embeddings)
      .select(col("vec_id"), col("embedding"))
    trainPqBooks(emb, seed, maxTrain) match {
      case None => emptyPqResult(spark)
      case Some(books) =>
        val codes = pqCodesWithRn2(emb, books)
        val luts = pqLutFrame(t, books, nQueries)
        codes.crossJoin(broadcast(luts))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), adcCosRaw(books).as("cos_raw"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("qid")
              .orderBy(round(col("cos_raw"), 6).desc, col("vec_id"))).cast("long"))
          .filter(col("rk") <= k)
          .select(col("qid"), col("vec_id"),
            round(col("cos_raw"), 6).as("cos_pq"), col("rk"))
          .orderBy("qid", "rk")
    }
  }

  /** Bounded deterministic (value-hashed) PQ codebook training, sliced
    * per subspace; seeds decorrelate across subspaces. None on an empty
    * corpus (the x53 empty-seed lesson — don't crash in training). */
  private def trainPqBooks(emb: DataFrame, seed: Long, maxTrain: Int,
                           tag: String = "raw")
  : Option[Array[Array[Array[Double]]]] = {
    val sample = emb
      .orderBy(xxhash64(col("embedding"), lit(seed)), col("vec_id"))
      .limit(maxTrain)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    if (sample.isEmpty) None
    else {
      val books: Array[Array[Array[Double]]] = Array.tabulate(PqM) { i =>
        val sub = sample.map(v => v.slice(i * PqDsub, (i + 1) * PqDsub))
        trainQuantizer(sub, PqKsub, iters = 5, seed = seed + i)
      }
      trainedPq.put(PqKey(PqM, PqKsub, seed, maxTrain, tag), books)
      Some(books)
    }
  }

  /** Empty top-k with the declared (qid, vec_id, cos_pq, rk) schema. */
  private def emptyPqResult(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cos_pq",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("rk",
          org.apache.spark.sql.types.LongType))))

  /** ADC is asymmetric: queries stay exact, only the corpus is coded.
    * lut(i)(c) = ⟨q_sub_i, books(i)(c)⟩ with the same sequential double
    * accumulation the oracle's list_sum recomputes, then pre-rounded to
    * exact nano units ([[roundNano]] — the per-candidate fold is 8 long
    * adds). One bounded row per query — always broadcast. */
  private def pqLutFrame(t: Tables, books: Array[Array[Array[Double]]],
                         nQueries: Int): DataFrame = {
    val queries = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    pqLutFromQueries(t.spark, queries, books)
  }

  /** [[pqLutFrame]] over an already-collected query batch — the seam
    * [[pqQuery]] shares with the per-call gate forms. */
  private def pqLutFromQueries(spark: org.apache.spark.sql.SparkSession,
                               queries: Array[(Long, Array[Float])],
                               books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    queries.map { case (qid, q) =>
      val lut = IndexedSeq.tabulate(PqM, PqKsub) { (i, c) =>
        var s = 0.0; var j = 0
        while (j < PqDsub) {
          s += q(i * PqDsub + j).toDouble * books(i)(c)(j); j += 1
        }
        roundNano(s)
      }.map(_.toSeq).toSeq
      var qn2 = 0.0; var j = 0
      while (j < q.length) { qn2 += q(j).toDouble * q(j).toDouble; j += 1 }
      (qid, lut, qn2)
    }.toIndexedSeq.toDF("qid", "lut", "qn2")
  }

  /** Round to 9 dp exactly as Spark's `round(x, 9)` (and DuckDB's
    * `ROUND(x, 9)`, already gate-verified equal) — decimal-string
    * HALF_UP — and return the EXACT value in nano units (x·10⁹ as a
    * long). All ADC terms are CONSTANTS per (table, code), so the
    * rounding runs on the driver over the bounded tables and the
    * per-row fold becomes 8 long additions: exact, associative,
    * order-independent (the r8 x47 lesson), and — the round-10 ANN-soak
    * lesson — TINY in generated code. The original per-row form (Round
    * → DECIMAL(28,9) cast → checked decimal adds, ×8–16 terms inlined)
    * pushed the fused whole-stage method past HotSpot's
    * DontCompileHugeMethods limit: the stage compiled (janino) but
    * never JIT'd, executing in the bytecode interpreter — 629 s for
    * the 1M-vector x60 scan vs 8.7 s brute force, and x61's fused
    * argmax+ADC stage ~100× off native speed. A nano-long sum n cast
    * double and divided by 1e9 is bit-identical to
    * `Decimal(28,9)(n·10⁻⁹).toDouble`: both are the correctly-rounded
    * double of the exact rational n/10⁹ (n < 2⁵³, 10⁹ exact). */
  private def roundNano(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .movePointRight(9).longValueExact()

  /** The corpus-side PQ index table: (vec_id[, cell], packed) — the 8
    * subspace codes packed 4 bits each into ONE int (nibble i = code
    * i; PqKsub = 16 makes the 8 codes exactly 32 bits). The
    * reconstruction norm² is NOT materialized: it is a pure function
    * of the codes and the bounded codebook literal, so [[adcCosRaw]]
    * derives it per candidate at scoring time (8 long adds against a
    * broadcast literal — the same fold as the ADC numerator) instead
    * of the index carrying a high-entropy double per vector.
    *
    * Why this layout (round-11 10M soak, column-level breakdown of the
    * 184 MB array-form artifact): rn2 was 80 MB (44%, incompressible
    * doubles), vec_id 49 MB, codes 40 MB, cell 13 MB. Nibble-packing
    * alone did NOT shrink the disk artifact — parquet already
    * bit-packs a low-cardinality int array — but it cuts the
    * in-memory scan row (one 4 B int vs an UnsafeArrayData header + 8
    * elements) and lets the hot ADC fold read codes by shift+mask:
    * the sf0.1 x61/x62 walls dropped 0.73×/0.67× and the 10M build
    * 224→174 s. Dropping rn2 is what actually shrinks the artifact:
    * 184→~102 MB (12.3%→~7% of corpus bytes). */
  private def pqCodes(emb: DataFrame,
                      books: Array[Array[Array[Double]]]): DataFrame =
    emb
      .withColumn("packed",
        (0 until PqM).map(i => shiftleft(pqCodeCol(i, books(i)), 4 * i))
          .reduce(_.bitwiseOR(_)))
      .drop("embedding")

  /** [[pqCodes]] plus the derived rn2 — the IN-MEMORY index form.
    * rn2 is per VECTOR, so deriving it once here (instead of inside
    * [[adcCosRaw]], which runs per (query, candidate) PAIR) keeps the
    * scoring fold at 8 adds per pair; the 10M probe measured the
    * per-pair form at 2.2× the scan wall for a 10-query batch. */
  private def pqCodesWithRn2(emb: DataFrame,
                             books: Array[Array[Array[Double]]]): DataFrame =
    pqCodes(emb, books).withColumn("rn2",
      nanoSum(normNanoLit(books)).cast("double") / lit(1e9))

  /** The pre-rounded nano-unit per-(subspace, code) reconstruction
    * norm² table for [[adcCosRaw]]'s derived rn2 — bounded
    * (PqM × PqKsub), a literal in the plan. */
  private def normNanoLit(books: Array[Array[Array[Double]]]): Column =
    typedLit(
      books.map(_.map(c => roundNano(c.map(x => x * x).sum)).toSeq).toSeq)

  /** Σ_i table(i)(nibble_i(packed)) — the ADC fold as ONE native
    * expression over the packed codes int
    * ([[graft.functions.NanoSumPacked]]; a composed 8-term chain pushed
    * the fused stage past the JVM's 8,000-bytecode JIT limit and the
    * whole scan ran interpreted — see NanoSum's scaladoc). */
  private def nanoSum(table: Column): Column =
    call_function("graft_nano_sum_packed", table, col("packed"))

  /** The ADC cosine of a (packed, lut, qn2) row: the query-side
    * numerator fold — 8 pre-rounded nano-unit LUT lookups summed as
    * longs (see [[roundNano]]) — over the precomputed reconstruction
    * norm². `lut` carries nano longs ([[pqLutFrame]]). */
  private def adcCosRaw(books: Array[Array[Array[Double]]]): Column =
    (nanoSum(col("lut")).cast("double") / lit(1e9)) /
      (sqrt(col("qn2")) * sqrt(col("rn2")))

  /** x61 IVF-PQ top-k — the faiss IndexIVFPQ composition the x60
    * scaladoc promises: the coarse IVF quantizer routes each query to
    * `nprobe` cells (same trained centroids and probe rule as x14), and
    * within the probed sliver candidates are scored by PQ ADC lookups
    * (same trained codebooks, LUT and decimal term-fold as x60) instead
    * of exact dots. This is THE memory-scale ANN shape at 100 TB: the
    * scan touches ~nprobe/nlist of the corpus and reads a 4 B packed-codes
    * int per candidate instead of 256 B vectors — the index (cell +
    * packed codes) is ~1-3% the corpus bytes.
    *
    * Scale shape: two bounded-sample trainings (corpus never iterates),
    * one assignment+encode pass (narrow: cell + one packed-codes int per
    * vector), probes and LUTs broadcast (≤nQueries rows each), shuffle
    * only at the per-query top-k window — which rides Spark 4's
    * WindowGroupLimit partial limits like every other rank here. */
  def ivfPqTopK(t: Tables, nQueries: Int = PqNQueries, k: Int = PqK,
                nlist: Int = GateNlist, nprobe: Int = GateNprobe,
                seed: Long = GateSeed, maxTrain: Int = GateMaxTrain): DataFrame = {
    val index = buildPqIndex(t, nlist, seed, maxTrain, residual = false) // gated x60-lineage raw form
    val queries = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val out = pqQuery(index, queries, k, nprobe)
    if (index.isEmpty) out
    else TextQueries.unpersistAfterFirstUse(out, index.codes)
  }

  /** x65 residual IVF-PQ top-k — [[ivfPqTopK]] with the index built in
    * the RESIDUAL form (faiss IVFADC, Jégou 2011 §IV.A: the product
    * quantizer encodes x − coarse_centroid). Gated with a generated
    * DuckDB oracle like x60/x61 (trained states as SQL literals, the
    * residual float cast and every accumulation order mirrored), so
    * the round-12 recall winner — 0.00 → 1.00 on the planted-cluster
    * fixture — carries the same hash-exact correctness contract as the
    * raw lineage. Scale shape identical to x61: the codes row is one
    * packed int + rn2 either way; the ⟨q,c⟩ numerator term rides the
    * probes broadcast. */
  def residualPqTopK(t: Tables, nQueries: Int = PqNQueries, k: Int = PqK,
                     nlist: Int = GateNlist, nprobe: Int = GateNprobe,
                     seed: Long = GateSeed,
                     maxTrain: Int = GateMaxTrain): DataFrame = {
    val index = buildPqIndexFrom(
      graft.core.Fanout.widen(t.embeddings)
        .select(col("vec_id"), col("embedding")),
      nlist, seed, maxTrain, tag = "embeddings", residual = true)
    val queries = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val out = pqQuery(index, queries, k, nprobe)
    if (index.isEmpty) out
    else TextQueries.unpersistAfterFirstUse(out, index.codes)
  }

  /** x66 residual IVF-PQ + exact re-rank — [[residualPqTopK]]'s
    * residual (IVFADC) shortlist re-scored with exact cosines against
    * the raw vectors, the faiss IVFPQ+refine recipe over the residual
    * coding. This is the PRODUCTION serving form the r12 recall grid
    * recommends: on the clustered 1M fixtures raw-PQ ADC scores
    * recall@10 = 0.00 (re-rank rescues it only to 0.61) while residual
    * ADC scores 1.00, and the exact re-rank then pins the final
    * ordering to true cosines regardless of quantization residue.
    * Gated with a generated DuckDB oracle (the x65 CTE stack as the
    * shortlist subquery + the x62 re-rank tail). */
  def residualPqRerankTopK(t: Tables, nQueries: Int = PqNQueries,
                           k: Int = PqK,
                           shortlist: Int = PqRerankShortlist,
                           nlist: Int = GateNlist, nprobe: Int = GateNprobe,
                           seed: Long = GateSeed,
                           maxTrain: Int = GateMaxTrain): DataFrame = {
    val index = buildPqIndexFrom(
      graft.core.Fanout.widen(t.embeddings)
        .select(col("vec_id"), col("embedding")),
      nlist, seed, maxTrain, tag = "embeddings", residual = true)
    val queries = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val out = pqQuery(index, queries, k, nprobe, rerankShortlist = shortlist)
    if (index.isEmpty) out
    else TextQueries.unpersistAfterFirstUse(out, index.codes)
  }

  /** A built IVF-PQ index: trained coarse centroids + PQ codebooks +
    * the persisted codes table `(vec_id, cell, packed)` — 4 B of
    * packed codes per vector, ~1-3% of raw corpus bytes — plus the raw source
    * frame for optional exact re-rank. The build-once/query-many form
    * of [[ivfPqTopK]]/[[ivfPqRerankTopK]] (which are now exactly
    * build + one [[pqQuery]] batch + release): a real deployment keeps
    * THIS artifact, pays the two bounded-sample trainings and the
    * assign+encode corpus pass once, and each query batch then costs
    * ~nprobe/nlist of a codes-table scan. The r10 1M-vector soak
    * measured the per-call form's coarse argmax dominating (19.1 s of
    * which only ~5.6 s was the ADC scan) — the cost this amortizes.
    * `codes` is persisted by the builder; callers own its release
    * (`index.release()`), mirroring [[IvfIndex]]. */
  final case class PqIndex(codes: DataFrame, raw: DataFrame,
                           centroids: Array[Array[Double]],
                           books: Array[Array[Array[Double]]],
                           residual: Boolean = false) {
    /** True for an index built over an empty corpus — [[pqQuery]]
      * short-circuits to the empty result (the x53 empty-seed lesson:
      * don't crash in training). */
    def isEmpty: Boolean = books.isEmpty
    def release(): Unit = codes.unpersist(blocking = false)
  }

  /** Build the IVF-PQ index over the embeddings table once: coarse
    * quantizer (identical training to x14 — same QuantKey snapshot),
    * PQ codebooks (identical to x60 — same PqKey snapshot), then ONE
    * narrow corpus pass emitting cell + the packed [[PqM]]-nibble codes int per
    * vector, persisted.
    *
    * `residual` DEFAULTS TO TRUE since round 13: the r12 recall grid
    * measured raw-vector PQ at recall@10 = 0.00 on clustered 1M
    * fixtures (the typical production distribution — codes re-describe
    * the cluster the cell id already names) vs residual (IVFADC) 1.00
    * at every setting, so the build-once API hands a production caller
    * the form that works. The raw form remains available explicitly
    * (`residual = false`) as the gated x60–x62 lineage. */
  def buildPqIndex(t: Tables, nlist: Int = GateNlist, seed: Long = GateSeed,
                   maxTrain: Int = GateMaxTrain,
                   residual: Boolean = true): PqIndex =
    buildPqIndexFrom(
      graft.core.Fanout.widen(t.embeddings)
        .select(col("vec_id"), col("embedding")),
      nlist, seed, maxTrain, tag = "embeddings", residual = residual)

  /** [[buildPqIndex]] over an arbitrary `(vec_id, embedding:
    * array<float>)` frame — the [[buildIvfIndexFrom]] seam for PQ.
    * Empty-corpus-safe: books are trained first (bounded-sample
    * collect doubles as the emptiness probe), so the coarse trainer —
    * which throws on an empty sample — is never reached without data.
    *
    * `residual = true` (round 12) codes each vector's RESIDUAL from
    * its coarse centroid instead of the raw vector — faiss IVFADC's
    * actual encoding (Jégou et al. 2011 §IV.A: "the residual vector is
    * quantized by the product quantizer"), and the difference is not a
    * constant factor: on clustered data the raw-vector codebooks spend
    * their 4 bits/subspace describing WHICH cluster (information the
    * cell id already carries) and leave within-cluster ranking below
    * the quantization floor — the r12 1M mixture-of-Gaussians grid
    * measured raw-PQ ADC recall@10 = 0.00 with perfect coarse routing
    * (IVF-exact 1.00). Residual codebooks describe the within-cell
    * offsets, which is exactly what ranks neighbors inside the probed
    * cells. Costs one extra broadcast join at build/load (the
    * per-cell cross-term table for the reconstruction norm); the ADC
    * scan shape is unchanged (codes stay one packed int + rn2 per
    * vector). Since round 13 RESIDUAL IS THE DEFAULT (see
    * [[buildPqIndex]] — raw PQ's measured 0.00 recall on clustered
    * data makes it the wrong silent choice); the raw form stays
    * reachable with `residual = false` as the gated x60–x62 lineage
    * (x60 has no coarse quantizer to take residuals against) and the
    * two share every code path below the encode. */
  def buildPqIndexFrom(emb: DataFrame, nlist: Int = GateNlist,
                       seed: Long = GateSeed, maxTrain: Int = GateMaxTrain,
                       tag: String = "custom",
                       residual: Boolean = true): PqIndex =
    if (!residual)
      trainPqBooks(emb, seed, maxTrain) match {
        case None =>
          PqIndex(emptyCodesFrame(emb.sparkSession), emb,
            Array.empty, Array.empty)
        case Some(books) =>
          val (assigned, centroids) =
            trainAndAssignFrom(emb, nlist, seed, maxTrain, tag)
          PqIndex(
            pqCodesWithRn2(assigned, books)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
            emb, centroids, books)
      }
    else if (emb.limit(1).isEmpty)
      PqIndex(emptyCodesFrame(emb.sparkSession), emb,
        Array.empty, Array.empty, residual = true)
    else {
      val (assigned, centroids) =
        trainAndAssignFrom(emb, nlist, seed, maxTrain, tag)
      val res = residualFrame(assigned, centroids)
      // books snapshot under its own tag: the RESIDUAL books must not
      // clobber the raw-form snapshot the x60/x61/x62 generated
      // oracles read (same PqKey otherwise)
      val books = trainPqBooks(res.select(col("vec_id"), col("embedding")),
        seed, maxTrain, tag = "residual").get
      PqIndex(
        residualCodesWithRn2(res, centroids, books)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        emb, centroids, books, residual = true)
    }

  /** `(vec_id, cell, embedding)` with embedding replaced by the
    * vector's residual from its cell centroid (float — the 1-ulp cast
    * loss is three orders under the 16-centroid quantization error).
    * Native [[graft.functions.CentroidResidual]]: the centroid matrix
    * rides as a codegen reference object and the subtraction is a flat
    * float loop — a broadcast join + `zip_with` would run the
    * per-element lambda INTERPRETED (ZipWith has no codegen), measured
    * as most of a 12→109 s slowdown of the 1M residual build. */
  private def residualFrame(assigned: DataFrame,
                            centroids: Array[Array[Double]]): DataFrame =
    assigned.select(col("vec_id"), col("cell"),
      call_function("graft_centroid_residual", col("embedding"),
        typedLit(centroids.map(_.toSeq).toSeq), col("cell")).as("embedding"))

  /** Residual reconstruction norm²: |ĉ + r̂|² = |c|² + Σ_i (2·⟨c_i,
    * b_ik⟩ + |b_ik|²) — per (cell, packed), folded from a bounded
    * per-cell nano cross-table via one broadcast join at build/load
    * time, so query-time rows still carry one precomputed rn2 double. */
  private def residualCodesWithRn2(res: DataFrame,
                                   centroids: Array[Array[Double]],
                                   books: Array[Array[Array[Double]]])
  : DataFrame =
    residualRn2Join(pqCodes(res, books), centroids, books)

  /** The (vec_id, cell, packed[, rn2]) encode of an arbitrary frame
    * against an index's FROZEN trained state — raw or residual form,
    * the shared seam of [[absorbDelta]] and [[appendPqDelta]]. */
  private def encodeAgainst(centroids: Array[Array[Double]],
                            books: Array[Array[Array[Double]]],
                            residual: Boolean, frame: DataFrame,
                            withRn2: Boolean): DataFrame = {
    val assigned = assignCells(
      frame.select(col("vec_id"), col("embedding")), centroids)
    if (residual) {
      val coded = residualCodesWithRn2(
        residualFrame(assigned, centroids), centroids, books)
      if (withRn2) coded else coded.drop("rn2")
    } else {
      if (withRn2) pqCodesWithRn2(assigned, books)
      else pqCodes(assigned, books)
    }
  }

  /** Persist a built [[PqIndex]] to `path` as engine-native parquet:
    * the codes table under `path/codes` and the two trained states —
    * coarse centroids and PQ codebooks — as ONE nested-array row under
    * `path/model`. This is the artifact a deployment keeps BETWEEN
    * sessions (the in-memory index dies with the SparkSession; a
    * 100 TB encode pass must not re-run per session). Parquet for
    * both parts so the index stays readable by any engine, splittable,
    * and free of JVM serialization coupling. The derived rn2 column is
    * NOT written — it is a function of (packed, books) and dominated
    * the array-form artifact (80 of 184 MB at 10M: incompressible
    * doubles); [[loadPqIndex]] re-derives it in one projection. The
    * slim (vec_id, cell, packed) artifact measured 103 MB at 10M —
    * ~7% of corpus bytes.
    *
    * The model row carries `format_version` = [[PqFormatVersion]]
    * (ADVICE r11): the artifact layout changed once already (array
    * codes + stored rn2 → packed codes, rn2 elided) and a version-less
    * pre-change artifact failed deep inside the rn2 re-derivation with
    * an opaque unresolved-column error — [[loadPqIndex]] now refuses a
    * versionless or future-versioned artifact with an explicit
    * "rebuild with savePqIndex" message instead. Any stale `deltas/`
    * batches from a previous artifact at the same path are cleared —
    * they encode against the OLD trained state. */
  def savePqIndex(index: PqIndex, path: String): Unit = {
    require(!index.isEmpty, "cannot save an empty PqIndex")
    val spark = index.codes.sparkSession
    import spark.implicits._
    val deltas = new org.apache.hadoop.fs.Path(s"$path/deltas")
    val fs = deltas.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(deltas)) fs.delete(deltas, true)
    index.codes.drop("rn2").write.mode("overwrite").parquet(s"$path/codes")
    Seq((PqFormatVersion, index.residual,
        index.centroids.map(_.toSeq).toSeq,
        index.books.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("format_version", "residual", "centroids", "books")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
  }

  /** Write the raw corpus under the artifact, CO-DESIGNED with
    * [[pqQuery]]'s exact re-rank: every vector tagged with its coarse
    * cell, hive-partitioned by `cell` (one directory per cell, one
    * file per cell within a writer task) and sorted by `vec_id`
    * within. The re-rank shortlist only ever contains vectors from the
    * PROBED cells, so the fetch's probed-cell IN-list becomes a
    * partition filter — it reads the same ~nprobe/nlist sliver of
    * directories the ADC scan touches instead of scanning the corpus
    * (r11 10M soak: 17.9–29.4 s of the leg was the un-pruned fetch).
    * A plain `vec_id`-range-sorted layout cannot do this: shortlist
    * ids are uniform over the id space (cell membership is
    * id-uncorrelated), so id-range min/max stats prune nothing —
    * the pruning key has to be the probe key.
    *
    * This is the one artifact piece that is ~corpus-sized (it holds
    * the raw vectors); pure-ADC serving skips it entirely. Since round
    * 13 it is no longer an O(corpus)-per-ingest snapshot:
    * [[appendPqDelta]] extends an existing layout by the delta's rows
    * only (committed `rawdeltas/<batchId>` dirs, same marker pattern
    * as the codes batches), and [[loadPqIndexWithRaw]] unions them in.
    * Re-running THIS writes a fresh base snapshot and clears the
    * accumulated raw deltas — the periodic compaction. */
  def saveRerankRaw(index: PqIndex, path: String): Unit = {
    require(!index.isEmpty, "cannot lay out an empty PqIndex")
    val rd = new org.apache.hadoop.fs.Path(s"$path/rawdeltas")
    val fs = rd.getFileSystem(
      index.codes.sparkSession.sessionState.newHadoopConf())
    index.raw.select(col("vec_id"), col("embedding"))
      .join(index.codes.select(col("vec_id"), col("cell")), "vec_id")
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/raw")
    // the fresh snapshot subsumes every appended raw batch — clearing
    // them AFTER the overwrite lands keeps the union view complete at
    // every instant (worst case a crash here double-counts nothing:
    // the snapshot and a stale rawdelta hold identical rows for the
    // same vec_id only if the caller re-laid-out without growing raw,
    // and loadPqIndexWithRaw reads each vec_id's row from one file
    // per source — dedup is the caller-visible contract below)
    if (fs.exists(rd)) fs.delete(rd, true)
  }

  /** [[loadPqIndex]] with the raw side read from the artifact's own
    * [[saveRerankRaw]] layout — the base cell-partitioned snapshot
    * plus every COMMITTED `rawdeltas/<batchId>` extension (each itself
    * cell-partitioned, so the re-rank fetch's probed-cell IN-list
    * prunes every source to the same ~nprobe/nlist directory
    * sliver). Sources are unioned per-root (not multi-path read:
    * partition discovery wants one basePath per root). */
  def loadPqIndexWithRaw(spark: org.apache.spark.sql.SparkSession,
                         path: String): PqIndex = {
    val roots = s"$path/raw" +:
      committedDeltaDirs(spark, path, sub = "rawdeltas")
    val raw = roots.map(spark.read.parquet(_)).reduce(_ unionByName _)
    loadPqIndex(spark, path, raw)
  }

  /** On-disk PQ artifact format: 2 = packed int codes, rn2 elided,
    * versioned model row, append batches as committed `deltas/<id>`
    * subdirectories. (1 = the unversioned r10 array-codes layout,
    * refused at load.) */
  private val PqFormatVersion = 2

  /** Last file written into a delta batch directory — the COMMIT.
    * [[loadPqIndex]] ignores batch dirs without it, so a writer dying
    * mid-append leaves an invisible partial, not silently-served rows.
    * Underscore prefix keeps parquet's own dir reader from treating it
    * as data. */
  private val PqCommitMarker = "_GRAFT_COMMITTED"

  /** Delta batch dirs under `path/<sub>` whose commit marker exists,
    * in sorted order — the committed-append manifest (`deltas` for
    * codes batches, `rawdeltas` for the re-rank raw layout's
    * batches). */
  private def committedDeltaDirs(spark: org.apache.spark.sql.SparkSession,
                                 path: String,
                                 sub: String = "deltas"): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d, PqCommitMarker)))
      .map(_.toString).sorted.toSeq
  }

  /** Load a [[savePqIndex]] artifact. `raw` is the corpus frame
    * (`vec_id`, `embedding`) the index was built from — the caller's
    * source of truth, needed only for the exact re-rank path (the
    * codes table answers pure-ADC queries without touching it). The
    * loaded codes are persisted for query-many use; callers own the
    * release, exactly like [[buildPqIndex]]. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  raw: DataFrame): PqIndex = {
    val (centroids, books, residual) = loadPqModel(spark, path)
    // base codes + every COMMITTED append batch (partial appends have
    // no commit marker and are ignored — the ADVICE r11 contract)
    val codePaths = s"$path/codes" +: committedDeltaDirs(spark, path)
    val codes = spark.read.parquet(codePaths: _*)
    // re-derive the per-vector rn2 the artifact elides (one bounded
    // projection — residual form joins the per-cell cross-table —
    // paid once at load)
    val withRn2 =
      if (residual)
        residualRn2Join(codes, centroids, books)
      else
        codes.withColumn("rn2",
          nanoSum(normNanoLit(books)).cast("double") / lit(1e9))
    PqIndex(
      withRn2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      raw, centroids, books, residual)
  }

  /** The trained-state half of a [[savePqIndex]] artifact. Refuses a
    * versionless (pre-v2) or future-versioned artifact loudly instead
    * of failing deep inside the rn2 re-derivation. A v2 model without
    * the `residual` column (saved before round 12) is the raw form. */
  private def loadPqModel(spark: org.apache.spark.sql.SparkSession,
                          path: String)
  : (Array[Array[Double]], Array[Array[Array[Double]]], Boolean) = {
    val df = spark.read.parquet(s"$path/model")
    val version =
      if (!df.columns.contains("format_version")) 1
      else df.select("format_version").collect()(0).getInt(0)
    if (version != PqFormatVersion)
      throw new IllegalStateException(
        s"PQ artifact at $path is format v$version; this build reads " +
          s"v$PqFormatVersion (packed codes, rn2 elided) — rebuild with savePqIndex")
    val m = df.collect()(0)
    // inner elements come back as mutable ArraySeqs — type the getSeq
    // at collection.Seq or the .map blows up on the immutable upcast
    val centroids = m.getSeq[scala.collection.Seq[Double]](
      m.fieldIndex("centroids")).map(_.toArray).toArray
    val books = m.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](
      m.fieldIndex("books")).map(_.map(_.toArray).toArray).toArray
    val residual = df.columns.contains("residual") &&
      m.getBoolean(m.fieldIndex("residual"))
    (centroids, books, residual)
  }

  /** [[residualCodesWithRn2]]'s rn2 derivation alone, for a codes
    * frame that already carries (cell, packed). */
  private def residualRn2Join(codes: DataFrame,
                              centroids: Array[Array[Double]],
                              books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val cross = centroids.zipWithIndex.map { case (c, cell) =>
      val tab = IndexedSeq.tabulate(PqM, PqKsub) { (i, k) =>
        var s = 0.0; var j = 0
        while (j < PqDsub) {
          val b = books(i)(k)(j)
          s += 2.0 * c(i * PqDsub + j) * b + b * b; j += 1
        }
        roundNano(s)
      }.map(_.toSeq).toSeq
      (cell, tab, c.map(x => x * x).sum)
    }.toIndexedSeq.toDF("cell", "crosstab", "cn2")
    codes.join(broadcast(cross), "cell")
      .withColumn("rn2",
        col("cn2") + nanoSum(col("crosstab")).cast("double") / lit(1e9))
      .select(col("vec_id"), col("cell"), col("packed"), col("rn2"))
  }

  /** Append a delta's codes to a SAVED PqIndex artifact — the at-scale
    * companion of [[absorbDelta]]: the in-memory absorb's union
    * persist copies all n rows into fresh storage (measured at 10M:
    * the 1M fold's wall is the union persist, not the encode), where
    * this writes ONLY the delta's `(vec_id, cell, packed)` rows as a
    * new batch directory `path/deltas/<batchId>` — the artifact grows
    * by O(delta) bytes and the corpus codes are never rewritten.
    * Encoding uses the artifact's frozen models (same contract as
    * absorbDelta). Returns the reloaded index over `raw` (the caller's
    * grown corpus frame, for exact re-rank).
    *
    * `batchId` is the caller's idempotency key (ADVICE r11 — the old
    * parquet `mode("append")` was neither atomic nor idempotent):
    *  - a writer dying mid-append leaves the batch dir WITHOUT its
    *    commit marker, so [[loadPqIndex]] never serves partial rows;
    *  - re-invoking with the same `batchId` after a failure overwrites
    *    the partial batch in place;
    *  - re-invoking with an already-COMMITTED `batchId` (an at-least-
    *    once caller replaying) skips the write entirely instead of
    *    silently duplicating every row of the batch.
    *
    * If the artifact carries a [[saveRerankRaw]] layout (`path/raw`
    * exists), the delta's RAW rows are also written — as a committed
    * cell-partitioned `rawdeltas/<batchId>` dir — so the exact
    * re-rank path stays complete and pruned without re-laying-out the
    * corpus-sized base (the round-12 O(corpus)-per-ingest residue,
    * closed). Raw lands BEFORE codes: a crash between the two leaves
    * raw rows no shortlist ever references (harmless, replay
    * completes them), never committed codes whose re-rank fetch would
    * silently miss rows. */
  def appendPqDelta(spark: org.apache.spark.sql.SparkSession, path: String,
                    delta: DataFrame, raw: DataFrame,
                    batchId: String): PqIndex = {
    require(batchId.nonEmpty && !batchId.exists(c => c == '/' || c == '\\'),
      s"batchId must be a non-empty single path segment, got '$batchId'")
    val target = new org.apache.hadoop.fs.Path(s"$path/deltas/$batchId")
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(target, PqCommitMarker)
    if (!fs.exists(marker)) {
      val (centroids, books, residual) = loadPqModel(spark, path)
      val enc = encodeAgainst(centroids, books, residual, delta,
        withRn2 = false)
      val rawBase = new org.apache.hadoop.fs.Path(s"$path/raw")
      if (fs.exists(rawBase)) {
        val rtarget = new org.apache.hadoop.fs.Path(
          s"$path/rawdeltas/$batchId")
        val rmarker = new org.apache.hadoop.fs.Path(rtarget, PqCommitMarker)
        if (!fs.exists(rmarker)) {
          delta.select(col("vec_id"), col("embedding"))
            .join(enc.select(col("vec_id"), col("cell")), "vec_id")
            .repartition(col("cell"))
            .sortWithinPartitions(col("cell"), col("vec_id"))
            .write.partitionBy("cell").mode("overwrite")
            .parquet(rtarget.toString)
          fs.create(rmarker, true).close()
        }
      }
      // overwrite, not append: a retried partial batch replaces itself;
      // the marker lands LAST, after every part file is in place
      enc.write.mode("overwrite").parquet(target.toString)
      fs.create(marker, true).close()
    }
    loadPqIndex(spark, path, raw)
  }

  /** Fold a `(vec_id, embedding)` delta into a built [[PqIndex]] —
    * incremental, O(delta): only the delta runs the coarse argmax and
    * the PQ encode, against the index's FROZEN centroids and codebooks
    * (the faiss `IndexIVFPQ.add()` contract — adding never retrains;
    * quantization error grows only with distribution drift from the
    * trained sample, the price of never re-touching the corpus).
    * `raw` grows by the same delta so the exact re-rank path stays
    * complete. Delta `vec_id`s are the caller's to keep disjoint from
    * the corpus. The returned codes table is persisted; releasing the
    * input index after the new one materializes is the caller's
    * choice. Absorbing into an EMPTY index is refused loudly — there
    * is no trained state to encode with; build from the delta
    * instead. */
  def absorbDelta(index: PqIndex, delta: DataFrame): PqIndex = {
    require(!index.isEmpty,
      "cannot absorb into an empty PqIndex — buildPqIndexFrom the delta instead")
    val d = delta.select(col("vec_id"), col("embedding"))
    index.copy(
      codes = index.codes.unionByName(encodeAgainst(
          index.centroids, index.books, index.residual, d, withRn2 = true))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      raw = index.raw.select(col("vec_id"), col("embedding")).unionByName(d))
  }

  /** Empty `(vec_id, cell, packed, rn2)` frame — the in-memory index
    * schema. */
  private def emptyCodesFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("cell", IntegerType, nullable = false),
        StructField("packed", IntegerType),
        StructField("rn2", DoubleType))))
  }

  /** Query a built [[PqIndex]] with an arbitrary `(qid, qe)` batch:
    * nprobe nearest cells per query (driver math over the bounded
    * centroid set — the x14 probe rule), ADC scoring over the probed
    * codes (the x61 rule), and — when `rerankShortlist` > 0 — the
    * top-`rerankShortlist` ADC candidates fetched from the raw
    * vectors and re-scored with exact cosines (the x62 rule; output
    * column `cos` instead of `cos_pq`). Identical output to
    * [[ivfPqTopK]]/[[ivfPqRerankTopK]] given their query set — those
    * gate forms are build + this + release.
    *
    * Scale shape per batch: probes and LUTs broadcast (≤|batch| rows
    * each), a ~nprobe/nlist sliver of the 4 B/vector packed-codes table
    * scanned, shuffle only at the per-query top-k window (rides
    * WindowGroupLimit); the re-rank adds one raw-corpus scan against a
    * broadcast shortlist — the corpus never shuffles.
    *
    * Recommended defaults (round-13 serving grid, SOAK_ann §r13; two
    * clustered 1M fixtures, residual index, nlist=256): `nprobe` ≈
    * 1.5–3% of nlist (4–8 at nlist=256) — on margin-structured corpora
    * (real retrieval: true matches at high cosine margin) that alone
    * reaches recall@10 = 1.00 with `rerankShortlist = 0`; nprobe=1
    * dropped to 0.82 (planted neighbors straddling a cell boundary).
    * On NEAR-TIE corpora (the true top-10 separated by less than the
    * 8-bit quantization noise — e.g. dense duplicate-heavy clusters)
    * routing is not the limit and nprobe past 4 buys nothing; recall
    * scales with `rerankShortlist` alone (0.06 at 0 → 0.17 at 50 →
    * 0.43 at 200 → 0.61 at 400) and exact top-k needs a shortlist on
    * the order of the tie-band width — prefer [[ivfQuery]] (IVF-exact)
    * there if the band is cluster-sized. `rerankShortlist = 50` is
    * cheap insurance (one bounded raw fetch) when the margin structure
    * is unknown. */
  def pqQuery(index: PqIndex, queryDf: DataFrame, k: Int = PqK,
              nprobe: Int = GateNprobe, rerankShortlist: Int = 0): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    if (index.isEmpty) {
      val empty = emptyPqResult(spark)
      return if (rerankShortlist > 0) empty.withColumnRenamed("cos_pq", "cos")
             else empty
    }
    val queries = queryDf.select(col("qid"), col("qe"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // residual form: the numerator's per-(query, cell) term ⟨q, c⟩
    // rides the probes broadcast (driver math over the bounded
    // centroid set, like the probe ranking itself)
    val probes = queries.flatMap { case (qid, qe) =>
      index.centroids.zipWithIndex.map { case (c, ci) =>
        val d = c.zip(qe).map { case (a, b) => (a - b) * (a - b) }.sum
        var qc = 0.0; var j = 0
        while (j < qe.length) { qc += qe(j).toDouble * c(j); j += 1 }
        (qid, ci, d, qc)
      }.sortBy(p => (p._3, p._2)).take(nprobe).map(p => (qid, p._2, p._4))
    }.toSeq.toDF("qid", "cell", "qcdot")
    val luts = pqLutFromQueries(spark, queries, index.books)
    val adcK = if (rerankShortlist > 0) rerankShortlist else k
    // residual ADC cosine: (⟨q,c⟩ + Σ lut[code_i]) / (|q|·|ĉ+r̂|);
    // raw form is the x60 lineage (numerator is the lut fold alone)
    val cosRawCol =
      if (index.residual)
        (col("qcdot") + nanoSum(col("lut")).cast("double") / lit(1e9)) /
          (sqrt(col("qn2")) * sqrt(col("rn2")))
      else adcCosRaw(index.books)
    val adc = index.codes
      .join(broadcast(probes), "cell")
      .join(broadcast(luts), "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cell"),
        cosRawCol.as("cos_raw"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(round(col("cos_raw"), 6).desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= adcK)
    if (rerankShortlist <= 0)
      adc.select(col("qid"), col("vec_id"),
        round(col("cos_raw"), 6).as("cos_pq"), col("rk"))
        .orderBy("qid", "rk")
    else {
      // Materialize the bounded shortlist (≤ |batch| · rerankShortlist
      // rows of three scalars — same bounded-collect class as the query
      // batch itself) so the raw fetch carries PUSHABLE predicates
      // instead of scanning the corpus per batch: the r11 10M soak
      // measured the un-pruned fetch at 17.9–29.4 s — the one remaining
      // full-scan-per-batch shape in the ANN family (SOAK_ann reading 3).
      val short = adc.select(col("qid"), col("vec_id"), col("cell")).collect()
      val ids = short.map(_.getLong(1)).distinct.sorted.toSeq
      val pairs = short.map(r => (r.getLong(0), r.getLong(1))).toSeq
        .toDF("qid", "vec_id")
      val fetched =
        if (ids.isEmpty) index.raw.filter(lit(false))
        else {
          // the vec_id range + IN-list reach the parquet scan as
          // min/max-prunable row-group predicates on a vec_id-sorted
          // layout; on a [[saveRerankRaw]] layout the probed-cell
          // IN-list is a PARTITION filter — the fetch reads only the
          // shortlist's cell directories, the same nprobe/nlist sliver
          // the ADC scan touches, and the corpus never scans whole
          val ranged = index.raw.filter(
            col("vec_id").between(ids.head, ids.last) &&
              col("vec_id").isInCollection(ids))
          if (index.raw.columns.contains("cell"))
            ranged.filter(col("cell")
              .isInCollection(short.map(_.getInt(2)).distinct.toSeq))
          else ranged
        }
      fetched
        .join(broadcast(pairs), "vec_id")
        .join(broadcast(queryDf.select(col("qid"), col("qe"))), "qid")
        .select(col("qid"), col("vec_id"), cosine("embedding", "qe").as("cos_raw"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid")
            .orderBy(round(col("cos_raw"), 6).desc, col("vec_id"))).cast("long"))
        .filter(col("rk") <= k)
        .select(col("qid"), col("vec_id"), round(col("cos_raw"), 6).as("cos"),
          col("rk"))
        .orderBy("qid", "rk")
    }
  }

  /** name → query, in declared order. The near-dup threshold is wired
    * at 0.15 for the gate: the synthetic embeddings have no true
    * near-dups (max pairwise cosine ≈ 0.51 at sf0.01), and a gate query
    * that returns 0 rows proves nothing. */
  val all: Seq[(String, Tables => DataFrame)] = Seq(
    "x08_cosine_topk" -> (t => bruteForceTopK(t)),
    "x09_cosineneardup" -> (t => cosineNearDup(t, threshold = NearDupGateThreshold)),
    "x14_ivf_topk" -> (t => ivfTopK(t)), // oracle generated post-run from the trained quantizer
    "x17_kmeans_cells" -> (t => kmeansCells(t)), // same generated-oracle pattern
    "x33_semantic_dedup" -> (t => semanticDedup(t)), // same generated-oracle pattern
    "x51_semantic_decon" -> (t => semDecontaminate(t)),
    "x53_kcenter_coreset" -> (t => kcenterCoreset(t)),
    "x59_media_ivf_topk" -> (t => mediaIvfTopK(t)), // generated oracle (media-tagged quantizer)
    "x60_pq_adc_topk" -> (t => pqAdcTopK(t)), // generated oracle (trained PQ codebooks)
    "x61_ivf_pq_topk" -> (t => ivfPqTopK(t)), // generated oracle (centroids + codebooks)
    "x62_ivf_pq_rerank" -> (t => ivfPqRerankTopK(t)), // generated oracle (same trained state)
    "x65_residual_pq" -> (t => residualPqTopK(t)), // generated oracle (centroids + residual codebooks)
    "x66_residual_pq_rerank" -> (t => residualPqRerankTopK(t)), // generated oracle (x65 shortlist + x62 re-rank)
  )

  /** DuckDB double cosine between two list columns — the exact probe
    * formula that bit-matches Spark's sequential aggregate. */
  private def cosSql(a: String, b: String): String = {
    def sq(u: String, v: String) =
      s"list_sum(list_transform(range(1, len($u) + 1), i -> CAST($u[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)))"
    s"${sq(a, b)} / (sqrt(${sq(a, a)}) * sqrt(${sq(b, b)}))"
  }

  /** DuckDB projection of `embedding` onto hyperplane j (same md5 as
    * the Spark side). */
  private def projSql(j: Int): String =
    s"list_sum(list_transform(range(0, len(embedding)), i -> CAST(embedding[i + 1] AS DOUBLE) * (CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || '$j'), 1, 15) AS BIGINT) % 1000 AS DOUBLE) / 500.0 - 1.0)))"

  /** DuckDB 16-bit band key b — same sign-bit layout as `graft_band_keys`. */
  private def bandSql(b: Int): String =
    (0 until BandBits).map { i =>
      s"(CASE WHEN ${projSql(b * BandBits + i)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Generated x14 oracle: the trained centroids are emitted as literal
    * lists, then assignment (argmax of 2·x·c − |c|², first-index ties),
    * query probes (nprobe nearest centroids, ties by index), candidate
    * scoring, and per-query top-k are reproduced in SQL — the same
    * computation the Spark plan distributes. */
  private def dotSql(e: String, c: String) =
    s"list_sum(list_transform(range(1, len($e) + 1), i -> CAST($e[i] AS DOUBLE) * $c[i]))"
  private def norm2Sql(c: String) =
    s"list_sum(list_transform(range(1, len($c) + 1), i -> $c[i] * $c[i]))"
  private def d2Sql(c: String, e: String) =
    s"list_sum(list_transform(range(1, len($e) + 1), i -> ($c[i] - CAST($e[i] AS DOUBLE)) * ($c[i] - CAST($e[i] AS DOUBLE))))"

  /** Shared CTEs: trained centroids as literals + nearest-centroid
    * assignment of the whole corpus (argmax of 2·x·c − |c|²,
    * first-index ties — the Spark plan's exact rule). */
  private def assignCtes(centroids: Array[Array[Double]]): String = {
    val cvals = centroids.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}])"
    }.mkString(", ")
    s"""c AS (SELECT * FROM (VALUES $cvals) AS t(ci, cv)),
      sc AS (SELECT e.vec_id, e.embedding, c.ci,
               2 * ${dotSql("e.embedding", "c.cv")} - ${norm2Sql("c.cv")} AS s
             FROM embeddings e CROSS JOIN c),
      a AS (SELECT vec_id, embedding, ci AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn FROM sc)
            WHERE rn = 1)"""
  }

  private def ivfSql(m: IvfModel): String = {
    s"""
      WITH ${assignCtes(m.centroids)},
      q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < ${m.nQueries}),
      qd AS (SELECT q.qid, c.ci, ${d2Sql("c.cv", "q.qe")} AS d2 FROM q CROSS JOIN c),
      p AS (SELECT qid, ci AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, ci) AS pr FROM qd)
            WHERE pr <= ${m.nprobe}),
      s AS (SELECT q.qid, a.vec_id, ${cosSql("a.embedding", "q.qe")} AS cos_raw
            FROM a JOIN p ON a.cell = p.cell JOIN q ON p.qid = q.qid
            WHERE a.vec_id <> q.qid),
      r AS (SELECT qid, vec_id, cos_raw,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
            FROM s)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos, rk FROM r WHERE rk <= ${m.k} ORDER BY qid, rk"""
  }

  /** Generated x59 oracle: byte-histogram features recomputed in SQL
    * over the ACTUAL UTF-8 BYTES — `hex(encode(text))` sliced two hex
    * chars per byte — matching the Spark featurizer's `(b & 0xff)` on
    * the binary payload for ANY text, not just ASCII (the previous
    * `unicode(char)` form silently assumed an all-ASCII fixture: on
    * non-ASCII, char count ≠ byte count and code point ≠ byte — r9
    * ADVICE). Counts and lengths are exact ints whose REAL division
    * bit-matches the JVM's float division — double-rounding is
    * innocuous for division at 24-in-53 bits. Then the x14
    * assignment/probe/score/top-k machinery over the feature CTE with
    * the trained centroids as literals.
    *
    * The histogram is an UNNEST → GROUP BY → ≤MediaDim-entry pivot,
    * NOT per-bin `list_filter` passes over a per-doc code list: the
    * list form rescanned each doc's byte list MediaDim times per row
    * and OOM'd DuckDB at the sf1 50k-doc re-verification (x59's first
    * above-gate oracle run) — the grouped form streams. */
  private def mediaIvfSql(centroids: Array[Array[Double]]): String = {
    val cvals = centroids.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}])"
    }.mkString(", ")
    s"""
      WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS h
          FROM documents),
      bins AS (SELECT media_id,
            unnest(list_transform(range(0, length(h) // 2),
              i -> CAST('0x' || substr(h, 2 * i + 1, 2) AS INTEGER) % $MediaDim)) AS bin
          FROM hx),
      hist AS (SELECT media_id, bin, COUNT(*) AS c
               FROM bins GROUP BY media_id, bin),
      pe AS (SELECT media_id, list(struct_pack(bin := bin, c := c)) AS es,
               SUM(c) AS tot
             FROM hist GROUP BY media_id),
      f AS (SELECT hx.media_id,
            list_transform(range(0, $MediaDim), b ->
              CAST(CAST(CAST(COALESCE(list_sum(list_transform(pe.es,
                  e -> CASE WHEN e.bin = b THEN e.c ELSE 0 END)), 0) AS REAL)
                 / CAST(greatest(1, COALESCE(pe.tot, 0)) AS REAL) AS REAL) AS DOUBLE)) AS fe
          FROM hx LEFT JOIN pe ON pe.media_id = hx.media_id),
      c AS (SELECT * FROM (VALUES $cvals) AS t(ci, cv)),
      sc AS (SELECT f.media_id, f.fe, c.ci,
               2 * ${dotSql("f.fe", "c.cv")} - ${norm2Sql("c.cv")} AS s
             FROM f CROSS JOIN c),
      a AS (SELECT media_id AS vec_id, fe AS embedding, ci AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY s DESC, ci) AS rn FROM sc)
            WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe FROM a WHERE vec_id % $MediaQMod = 0),
      qd AS (SELECT q.qid, c.ci, ${d2Sql("c.cv", "q.qe")} AS d2 FROM q CROSS JOIN c),
      p AS (SELECT qid, ci AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, ci) AS pr FROM qd)
            WHERE pr <= $MediaNprobe),
      s AS (SELECT q.qid, a.vec_id, ${cosSql("a.embedding", "q.qe")} AS cos_raw
            FROM a JOIN p ON a.cell = p.cell JOIN q ON p.qid = q.qid
            WHERE a.vec_id <> q.qid),
      r AS (SELECT qid, vec_id, cos_raw,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
            FROM s)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos, rk FROM r WHERE rk <= $MediaK ORDER BY qid, rk"""
  }

  /** Generated x53 oracle: the k greedy rounds unrolled as chained
    * CTEs — each round recomputes every remaining vector's exact min
    * squared distance to the chosen-so-far set (MIN over exact doubles
    * is order-independent, so the incremental `least` maintenance on
    * the Spark side reproduces it bit-for-bit) and picks the argmax
    * with the same (mind DESC, vec_id) tie rule as the TakeOrdered. */
  private def kcenterSql(k: Int): String = {
    // both sides cast to DOUBLE: the corpus embeddings are FLOAT lists
    // on each side of the distance here (unlike d2Sql, whose left side
    // is an already-double centroid literal)
    def d2(c: String, e: String) =
      s"list_sum(list_transform(range(1, len($e) + 1), i -> (CAST($c[i] AS DOUBLE) - CAST($e[i] AS DOUBLE)) * (CAST($c[i] AS DOUBLE) - CAST($e[i] AS DOUBLE))))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH ch0 AS (SELECT CAST(0 AS INTEGER) AS step, vec_id, CAST(NULL AS DOUBLE) AS radius, embedding
         FROM embeddings ORDER BY vec_id LIMIT 1),
       all0 AS (SELECT * FROM ch0)""")
    for (i <- 1 until k) {
      sb.append(s""",
       d$i AS (SELECT e.vec_id, MIN(${d2("c.embedding", "e.embedding")}) AS mind
               FROM embeddings e CROSS JOIN all${i - 1} c
               WHERE e.vec_id NOT IN (SELECT vec_id FROM all${i - 1})
               GROUP BY e.vec_id),
       ch$i AS (SELECT CAST($i AS INTEGER) AS step, d.vec_id, d.mind AS radius, e.embedding
               FROM d$i d JOIN embeddings e USING (vec_id)
               ORDER BY d.mind DESC, d.vec_id LIMIT 1),
       all$i AS (SELECT * FROM all${i - 1} UNION ALL SELECT * FROM ch$i)""")
    }
    sb.append(s"""
      SELECT step, vec_id, ROUND(radius, 6) AS radius FROM all${k - 1} ORDER BY step""")
    sb.toString
  }

  /** A `def`: the x14/x17 entries appear once a run has trained the
    * GATE-parameter quantizer (Verify runs every query before dumping
    * oracle_sql.json, so the emitted SQL reflects exactly that run's
    * centroids; training with other parameters lands under a different
    * [[QuantKey]] and cannot affect the gate oracle). */
  def oracles: Map[String, String] = Map(
    "x08_cosine_topk" -> s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      s AS (SELECT q.qid, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos_raw
            FROM embeddings e JOIN q ON e.vec_id <> q.qid),
      r AS (SELECT qid, vec_id, cos_raw,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
            FROM s)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos, rk FROM r WHERE rk <= 10 ORDER BY qid, rk""",
    "x09_cosineneardup" -> s"""
      WITH sk AS (SELECT vec_id, embedding,
            ${(0 until NumBands).map(b => s"${bandSql(b)} AS b$b").mkString(", ")}
          FROM embeddings),
      p AS (SELECT x.vec_id AS v1, y.vec_id AS v2, ${cosSql("x.embedding", "y.embedding")} AS cos_raw
            FROM sk x JOIN sk y ON x.vec_id < y.vec_id
              AND (${(0 until NumBands).map(b => s"x.b$b = y.b$b").mkString(" OR ")}))
      SELECT v1, v2, ROUND(cos_raw, 6) AS cos FROM p WHERE cos_raw >= $NearDupGateThreshold ORDER BY v1, v2""",
    "x51_semantic_decon" -> s"""
      WITH b AS (SELECT vec_id AS bench_id, embedding AS be FROM embeddings WHERE vec_id % $DeconBenchMod = $DeconBenchRem),
      s AS (SELECT e.vec_id, b.bench_id, ${cosSql("e.embedding", "b.be")} AS cos_raw
            FROM embeddings e CROSS JOIN b WHERE e.vec_id % $DeconBenchMod <> $DeconBenchRem),
      r AS (SELECT vec_id, bench_id, cos_raw,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ROUND(cos_raw, 6) DESC, bench_id) AS rk
            FROM s)
      SELECT vec_id, bench_id, ROUND(cos_raw, 6) AS cos,
        cos_raw >= $SemDeconGateThreshold AS contaminated
      FROM r WHERE rk = 1 ORDER BY vec_id""",
    "x53_kcenter_coreset" -> kcenterSql(KcGateK),
  ) ++ {
    val gate = Option(trainedQuantizers.get(
      QuantKey(GateNlist, GateSeed, GateMaxTrain)))
    gate.map(cs => "x14_ivf_topk" ->
      ivfSql(IvfModel(cs, GateNQueries, GateK, GateNprobe))).toMap ++
      gate.map(cs => "x17_kmeans_cells" -> s"""
      WITH ${assignCtes(cs)}
      SELECT CAST(cell AS INTEGER) AS cell, COUNT(*) AS n,
        MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
      FROM a GROUP BY cell ORDER BY cell""").toMap ++
      gate.map(cs => "x33_semantic_dedup" -> s"""
      WITH ${assignCtes(cs)},
      p AS (SELECT y.vec_id AS v, ${cosSql("x.embedding", "y.embedding")} AS c
            FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id),
      m AS (SELECT v, MAX(c) AS mc FROM p GROUP BY v)
      SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
        ROUND(m.mc, 6) AS prior_cos,
        COALESCE(m.mc >= $SemDedupGateThreshold, FALSE) AS is_dup
      FROM a LEFT JOIN m ON m.v = a.vec_id
      ORDER BY a.vec_id""").toMap
  } ++
    Option(trainedQuantizers.get(
      QuantKey(MediaNlist, GateSeed, GateMaxTrain, "media")))
      .map(cs => "x59_media_ivf_topk" -> mediaIvfSql(cs)).toMap ++
    Option(trainedPq.get(PqKey(PqM, PqKsub, GateSeed, GateMaxTrain)))
      .map(b => "x60_pq_adc_topk" -> pqSql(b)).toMap ++ {
    // x61 needs BOTH trained states: the coarse centroids (x14's
    // QuantKey) and the PQ codebooks (x60's PqKey) — ivfPqTopK
    // snapshots both itself, so a lone x61 run still generates
    val gate = Option(trainedQuantizers.get(
      QuantKey(GateNlist, GateSeed, GateMaxTrain)))
    val pq = Option(trainedPq.get(PqKey(PqM, PqKsub, GateSeed, GateMaxTrain)))
    val rpq = Option(trainedPq.get(
      PqKey(PqM, PqKsub, GateSeed, GateMaxTrain, tag = "residual")))
    (for { cs <- gate; b <- pq }
      yield "x61_ivf_pq_topk" -> ivfPqSql(cs, b)).toMap ++
    (for { cs <- gate; b <- pq }
      yield "x62_ivf_pq_rerank" -> ivfPqRerankSql(cs, b)).toMap ++
    (for { cs <- gate; b <- rpq }
      yield "x65_residual_pq" -> residualPqSql(cs, b)).toMap ++
    (for { cs <- gate; b <- rpq }
      yield "x66_residual_pq_rerank" -> residualPqRerankSql(cs, b)).toMap
  }

  /** Generated x60 oracle: the trained codebooks as a 128-row literal
    * (sub, code, cv), per-subspace encode via the same 2·x·c − |c|²
    * argmax (first-code ties) over the vector's 8-dim slice, then the
    * ADC score recomputed from the SAME rounded-DECIMAL subspace terms
    * the Spark plan folds — SUM over the 8 terms is exact decimal
    * arithmetic, so the GROUP BY order is immaterial, and the final
    * double division/sqrt chain is evaluated in the identical shape. */
  private def pqSql(books: Array[Array[Array[Double]]]): String = {
    val cb = books.zipWithIndex.flatMap { case (sub, i) =>
      sub.zipWithIndex.map { case (c, ci) =>
        s"($i, $ci, [${c.mkString(", ")}])"
      }
    }.mkString(", ")
    val dim = PqM * PqDsub
    def subDot(e: String, cv: String) =
      s"list_sum(list_transform(range(1, ${PqDsub + 1}), j -> CAST($e[cb_sub * $PqDsub + j] AS DOUBLE) * $cv[j]))"
    s"""
      WITH cb AS (SELECT * FROM (VALUES $cb) AS t(cb_sub, cb_code, cv)),
      enc0 AS (SELECT e.vec_id, cb.cb_sub, cb.cb_code, cb.cv,
                 2 * ${subDot("e.embedding", "cb.cv")}
                   - list_sum(list_transform(range(1, ${PqDsub + 1}), j -> cb.cv[j] * cb.cv[j])) AS s
               FROM embeddings e CROSS JOIN cb),
      enc AS (SELECT vec_id, cb_sub, cb_code, cv FROM
                (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, cb_sub ORDER BY s DESC, cb_code) AS rn FROM enc0)
              WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe,
              list_sum(list_transform(range(1, ${dim + 1}), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))) AS qn2
            FROM embeddings WHERE vec_id < $PqNQueries),
      t AS (SELECT q.qid, enc.vec_id,
              CAST(ROUND(${subDot("q.qe", "enc.cv")}, 9) AS DECIMAL(28,9)) AS term,
              CAST(ROUND(list_sum(list_transform(range(1, ${PqDsub + 1}), j -> enc.cv[j] * enc.cv[j])), 9) AS DECIMAL(28,9)) AS nterm
            FROM q CROSS JOIN enc WHERE enc.vec_id <> q.qid),
      s AS (SELECT qid, vec_id, CAST(SUM(term) AS DOUBLE) AS num,
              CAST(SUM(nterm) AS DOUBLE) AS rn2
            FROM t GROUP BY qid, vec_id),
      r AS (SELECT s.qid, s.vec_id,
              s.num / (sqrt(q.qn2) * sqrt(s.rn2)) AS cos_raw
            FROM s JOIN q ON s.qid = q.qid),
      rk AS (SELECT qid, vec_id, cos_raw,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
            FROM r)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos_pq, rk
      FROM rk WHERE rk <= $PqK ORDER BY qid, rk"""
  }

  /** x62 shortlist width: candidates per query fetched exactly. The
    * 1M soak measured recall@10 0.01 → 0.22 from re-ranking (the raw
    * ADC ordering decorrelates on near-tied cosines; exact scores
    * restore it within the routed candidate set). */
  private[operators] val PqRerankShortlist = 50

  /** x62 IVF-PQ + exact re-rank — the faiss `IndexIVFPQ` + refine
    * recipe, the form a production deployment actually serves: the
    * [[ivfPqTopK]] machinery produces a SHORTLIST per query from the
    * 4 B/vector packed codes, then ONLY the shortlist's raw vectors are
    * fetched and re-scored with exact cosines for the final top-k.
    *
    * Scale shape: everything x61 does, plus one broadcast of the
    * (queries × shortlist)-row candidate list against the corpus — the
    * corpus is scanned once more but never shuffled, and the exact math
    * touches shortlist·|queries| vectors, not the corpus. The 1M soak
    * measured the re-rank leg at +1.9 s over the shortlist. Ranks
    * follow the round(cos, 6) discipline on both engines. */
  def ivfPqRerankTopK(t: Tables, nQueries: Int = PqNQueries, k: Int = PqK,
                      shortlist: Int = PqRerankShortlist,
                      nlist: Int = GateNlist, nprobe: Int = GateNprobe,
                      seed: Long = GateSeed,
                      maxTrain: Int = GateMaxTrain): DataFrame = {
    val index = buildPqIndex(t, nlist, seed, maxTrain, residual = false) // gated x60-lineage raw form
    val queries = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val out = pqQuery(index, queries, k, nprobe, rerankShortlist = shortlist)
    if (index.isEmpty) out
    else TextQueries.unpersistAfterFirstUse(out, index.codes)
  }

  /** Generated x61 oracle: the x14 coarse machinery (assignment +
    * probe CTEs over the centroid literals) composed with the x60 PQ
    * machinery (encode + rounded-DECIMAL ADC term fold over the
    * codebook literals) — candidates are exactly the probed cells'
    * vectors, scored exactly as x60 scores the full corpus. */
  private def ivfPqSql(centroids: Array[Array[Double]],
                       books: Array[Array[Array[Double]]],
                       k: Int = PqK): String = {
    val cb = books.zipWithIndex.flatMap { case (sub, i) =>
      sub.zipWithIndex.map { case (c, ci) =>
        s"($i, $ci, [${c.mkString(", ")}])"
      }
    }.mkString(", ")
    val dim = PqM * PqDsub
    def subDot(e: String, cv: String) =
      s"list_sum(list_transform(range(1, ${PqDsub + 1}), j -> CAST($e[cb_sub * $PqDsub + j] AS DOUBLE) * $cv[j]))"
    s"""
      WITH ${assignCtes(centroids)},
      q AS (SELECT vec_id AS qid, embedding AS qe,
              list_sum(list_transform(range(1, ${dim + 1}), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))) AS qn2
            FROM embeddings WHERE vec_id < $PqNQueries),
      qd AS (SELECT q.qid, c.ci, ${d2Sql("c.cv", "q.qe")} AS d2 FROM q CROSS JOIN c),
      p AS (SELECT qid, ci AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, ci) AS pr FROM qd)
            WHERE pr <= $GateNprobe),
      cand AS (SELECT p.qid, a.vec_id FROM a JOIN p ON a.cell = p.cell
               WHERE a.vec_id <> p.qid),
      cb AS (SELECT * FROM (VALUES $cb) AS t(cb_sub, cb_code, cv)),
      enc0 AS (SELECT e.vec_id, cb.cb_sub, cb.cb_code, cb.cv,
                 2 * ${subDot("e.embedding", "cb.cv")}
                   - list_sum(list_transform(range(1, ${PqDsub + 1}), j -> cb.cv[j] * cb.cv[j])) AS s
               FROM embeddings e CROSS JOIN cb),
      enc AS (SELECT vec_id, cb_sub, cb_code, cv FROM
                (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, cb_sub ORDER BY s DESC, cb_code) AS rn FROM enc0)
              WHERE rn = 1),
      t AS (SELECT cd.qid, cd.vec_id,
              CAST(ROUND(${subDot("q.qe", "enc.cv")}, 9) AS DECIMAL(28,9)) AS term,
              CAST(ROUND(list_sum(list_transform(range(1, ${PqDsub + 1}), j -> enc.cv[j] * enc.cv[j])), 9) AS DECIMAL(28,9)) AS nterm
            FROM cand cd JOIN enc ON enc.vec_id = cd.vec_id JOIN q ON q.qid = cd.qid),
      s AS (SELECT qid, vec_id, CAST(SUM(term) AS DOUBLE) AS num,
              CAST(SUM(nterm) AS DOUBLE) AS rn2
            FROM t GROUP BY qid, vec_id),
      r AS (SELECT s.qid, s.vec_id,
              s.num / (sqrt(q.qn2) * sqrt(s.rn2)) AS cos_raw
            FROM s JOIN q ON s.qid = q.qid),
      rk AS (SELECT qid, vec_id, cos_raw,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
            FROM r)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos_pq, rk
      FROM rk WHERE rk <= $k ORDER BY qid, rk"""
  }

  /** Generated x65 oracle — the residual-PQ (IVFADC) math mirrored
    * end-to-end in SQL:
    *  - corpus assignment from the coarse-centroid literals (the x14
    *    [[assignCtes]]);
    *  - the residual vector re-created with the SAME float rounding
    *    the native [[graft.functions.CentroidResidual]] applies
    *    (`CAST(double_sub AS REAL)` ≡ Java `.toFloat` — both IEEE
    *    round-to-nearest);
    *  - per-subspace encode against the RESIDUAL codebook literals
    *    (2·x·c − |c|² argmax, first-code ties — the x60 shape over the
    *    residual slices);
    *  - ADC cosine per the residual rule: numerator = ⟨q, cell
    *    centroid⟩ (the probes-broadcast term, recomputed with the same
    *    sequential list_sum) + the rounded-DECIMAL LUT fold; norm² =
    *    |c|² + Σ_i round(2·⟨c_i, b_i⟩ + |b_i|², 9) — each rounded
    *    cross-term summed as exact DECIMAL, matching the nano-long
    *    fold bit for bit. */
  private def residualPqSql(centroids: Array[Array[Double]],
                            books: Array[Array[Array[Double]]],
                            k: Int = PqK): String = {
    val cb = books.zipWithIndex.flatMap { case (sub, i) =>
      sub.zipWithIndex.map { case (c, ci) =>
        s"($i, $ci, [${c.mkString(", ")}])"
      }
    }.mkString(", ")
    val dim = PqM * PqDsub
    def subDotQ(e: String, cv: String) =
      s"list_sum(list_transform(range(1, ${PqDsub + 1}), j -> CAST($e[cb_sub * $PqDsub + j] AS DOUBLE) * $cv[j]))"
    s"""
      WITH ${assignCtes(centroids)},
      cb AS (SELECT * FROM (VALUES $cb) AS t(cb_sub, cb_code, cv)),
      res AS (SELECT a.vec_id, a.cell,
                list_transform(range(1, ${dim + 1}), j -> CAST(CAST(a.embedding[j] AS DOUBLE) - c.cv[j] AS REAL)) AS rv
              FROM a JOIN c ON a.cell = c.ci),
      enc0 AS (SELECT r.vec_id, r.cell, cb.cb_sub, cb.cb_code, cb.cv,
                 2 * list_sum(list_transform(range(1, ${PqDsub + 1}), j -> CAST(r.rv[cb.cb_sub * $PqDsub + j] AS DOUBLE) * cb.cv[j]))
                   - list_sum(list_transform(range(1, ${PqDsub + 1}), j -> cb.cv[j] * cb.cv[j])) AS s
               FROM res r CROSS JOIN cb),
      enc AS (SELECT vec_id, cell, cb_sub, cb_code, cv FROM
                (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, cb_sub ORDER BY s DESC, cb_code) AS rn FROM enc0)
              WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe,
              list_sum(list_transform(range(1, ${dim + 1}), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))) AS qn2
            FROM embeddings WHERE vec_id < $PqNQueries),
      qd AS (SELECT q.qid, c.ci, ${d2Sql("c.cv", "q.qe")} AS d2 FROM q CROSS JOIN c),
      p AS (SELECT qid, ci AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, ci) AS pr FROM qd)
            WHERE pr <= $GateNprobe),
      pc AS (SELECT p.qid, p.cell,
               list_sum(list_transform(range(1, ${dim + 1}), j -> CAST(q.qe[j] AS DOUBLE) * c.cv[j])) AS qcdot
             FROM p JOIN c ON p.cell = c.ci JOIN q ON q.qid = p.qid),
      t AS (SELECT pc.qid, enc.vec_id, enc.cell, pc.qcdot,
              CAST(ROUND(${subDotQ("q.qe", "enc.cv")}, 9) AS DECIMAL(28,9)) AS term,
              CAST(ROUND(list_sum(list_transform(range(1, ${PqDsub + 1}), j -> 2 * c2.cv[enc.cb_sub * $PqDsub + j] * enc.cv[j] + enc.cv[j] * enc.cv[j])), 9) AS DECIMAL(28,9)) AS xterm
            FROM enc JOIN pc ON enc.cell = pc.cell
            JOIN q ON q.qid = pc.qid
            JOIN c c2 ON c2.ci = enc.cell
            WHERE enc.vec_id <> pc.qid),
      s AS (SELECT qid, vec_id, cell, qcdot,
              CAST(SUM(term) AS DOUBLE) AS lutsum,
              CAST(SUM(xterm) AS DOUBLE) AS cross_sum
            FROM t GROUP BY qid, vec_id, cell, qcdot),
      cn AS (SELECT ci, list_sum(list_transform(cv, x -> x * x)) AS cn2 FROM c),
      r AS (SELECT s.qid, s.vec_id,
              (s.qcdot + s.lutsum) / (sqrt(q.qn2) * sqrt(cn.cn2 + s.cross_sum)) AS cos_raw
            FROM s JOIN q ON s.qid = q.qid JOIN cn ON cn.ci = s.cell),
      rk AS (SELECT qid, vec_id, cos_raw,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
            FROM r)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos_pq, rk
      FROM rk WHERE rk <= $k ORDER BY qid, rk"""
  }

  /** Generated x62 oracle: the x61 shortlist (as a subquery, k =
    * [[PqRerankShortlist]]) re-scored with EXACT cosines against the
    * raw vectors and re-ranked — the faiss IVFPQ+refine recipe. The
    * exact cosine is the same [[cosSql]] probe formula x08/x14 use. */
  private def ivfPqRerankSql(centroids: Array[Array[Double]],
                             books: Array[Array[Array[Double]]]): String = s"""
      WITH sl AS (SELECT qid, vec_id FROM (${ivfPqSql(centroids, books, PqRerankShortlist)})),
      q2 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $PqNQueries),
      rr AS (SELECT sl.qid, e.vec_id, ${cosSql("e.embedding", "q2.qe")} AS cos_raw
             FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
             JOIN q2 ON q2.qid = sl.qid),
      rk2 AS (SELECT qid, vec_id, cos_raw,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
             FROM rr)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos, rk
      FROM rk2 WHERE rk <= $PqK ORDER BY qid, rk"""

  /** Generated x66 oracle: the x65 residual-PQ shortlist (as a
    * subquery, k = [[PqRerankShortlist]]) re-scored with EXACT cosines
    * against the raw vectors — the x62 re-rank CTE composed over the
    * residual (IVFADC) ADC stack instead of the raw-PQ one. This is
    * the production recipe the r12 recall grid recommends (residual
    * coding for clustered corpora + exact re-rank: MoG fixture
    * recall@10 0.04 → 0.61 for raw+re-rank vs 1.00 for residual). */
  private def residualPqRerankSql(centroids: Array[Array[Double]],
                                  books: Array[Array[Array[Double]]]): String = s"""
      WITH sl AS (SELECT qid, vec_id FROM (${residualPqSql(centroids, books, PqRerankShortlist)})),
      q2 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $PqNQueries),
      rr AS (SELECT sl.qid, e.vec_id, ${cosSql("e.embedding", "q2.qe")} AS cos_raw
             FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
             JOIN q2 ON q2.qid = sl.qid),
      rk2 AS (SELECT qid, vec_id, cos_raw,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos_raw, 6) DESC, vec_id) AS BIGINT) AS rk
             FROM rr)
      SELECT qid, vec_id, ROUND(cos_raw, 6) AS cos, rk
      FROM rk2 WHERE rk <= $PqK ORDER BY qid, rk"""
}
