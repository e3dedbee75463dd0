package graft.ml

import graft.functions.TextFunctions.{hash60, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** fastText-style document quality classifier — the third standard
  * quality-filter family beside the heuristic rules (x10/x37) and the
  * LM perplexity signal (x39/x40): a logistic-regression model over
  * hashed bag-of-tokens features, trained to separate a curated
  * positive slice from the raw corpus, scoring every document with a
  * keep probability. This is the GPT-3 appendix-A / LLaMA "classify
  * pages used as references in Wikipedia" recipe (Brown et al. 2020;
  * Touvron et al. 2023), re-expressed Spark-first.
  *
  * Scale split (the IVF-quantizer discipline, `Similarity.scala:299`):
  * TRAINING is corpus-size-independent — a bounded, deterministic,
  * value-hashed sample per class (≤ maxTrain docs total) is featurized
  * distributed, collected, and fitted on the driver by full-batch
  * gradient descent (model = `buckets`+1 doubles, sample ≤ a few MB).
  * SCORING is one distributed pass: tokenize → hash-bucket explode →
  * broadcast-join the ≤`buckets`-row weight table → per-doc dot by
  * map-side-combined groupBy → sigmoid. Nothing driver-side touches
  * the corpus; nothing executor-side holds more than the weight table.
  *
  * Features are L1-normalized term frequencies (count / doc length)
  * over `hash60(token) % buckets` — the same md5-derived hash column
  * on the train and score paths.
  * Determinism: the sample is value-hash-ordered, per-doc features are
  * bucket-sorted before the driver fold, and the fit has no random
  * state (w₀ = 0) — train twice, get bitwise-equal weights.
  */
object QualityClassifier {

  /** Trained model: `weights(b)` for bucket b, plus bias. */
  final case class Model(weights: Array[Double], bias: Double, buckets: Int)

  private val DefaultBuckets = 4096
  private val DefaultMaxTrain = 20000

  /** `(doc_id, n_toks, bucket, v)` — one row per (doc, bucket) with the
    * L1-normalized term frequency. Docs with zero tokens vanish here
    * (they carry no evidence; [[score]] re-attaches them at bias-only
    * probability). */
  private def bucketTf(docs: DataFrame, buckets: Int): DataFrame =
    graft.core.Fanout.widen(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("n_toks"),
        (hash60(col("tok")) % buckets).as("bucket"))
      .groupBy("doc_id", "n_toks", "bucket")
      .agg((count(lit(1)).cast("double") / col("n_toks")).as("v"))

  /** Fit on a bounded per-class sample. `positive` is the curation
    * predicate (e.g. `col("source") === "src0"` — the in-domain slice
    * x36/x39 also treat as target). Each class contributes ≤
    * maxTrain/2 docs chosen by value hash — deterministic, and immune
    * to class imbalance in the corpus (a rare curated slice still
    * fills its half). */
  def train(docs: DataFrame, positive: Column,
            buckets: Int = DefaultBuckets, iters: Int = 200,
            lr: Double = 2.0, l2: Double = 1e-6,
            maxTrain: Int = DefaultMaxTrain, seed: Long = 42L): Model = {
    def classSample(pred: Column) = docs.filter(pred)
      .orderBy(xxhash64(col("text"), lit(seed)), col("doc_id"))
      .limit(maxTrain / 2)
    val sample = classSample(positive).withColumn("y", lit(1.0))
      .unionByName(classSample(!positive).withColumn("y", lit(0.0)))
      .select("doc_id", "text", "y")
    // featurize distributed, collect ≤maxTrain sparse rows to the driver
    val collected = bucketTf(sample, buckets)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("bucket"), col("v"))).as("f"))
      .join(sample.select("doc_id", "y"), "doc_id")
      .select("y", "f").collect()
      .map { r =>
        val f = r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0).toInt, x.getDouble(1)))
          .sortBy(_._1) // fixed fold order -> bitwise-stable fit
        (r.getDouble(0), f)
      }
    require(collected.nonEmpty, "quality classifier: empty training sample")

    // CSR layout + while-loops: the fold runs iters × nnz FMAs on the
    // driver (≤ maxTrain docs, so bounded by construction — but at the
    // cap that is ~10⁸ ops, where boxed-tuple iteration costs multiple
    // seconds and this flat form milliseconds). Same summation order
    // as the row form: docs in collect order, features bucket-sorted.
    val nDocs = collected.length
    val ys = collected.map(_._1)
    val indptr = new Array[Int](nDocs + 1)
    collected.zipWithIndex.foreach { case ((_, f), i) =>
      indptr(i + 1) = indptr(i) + f.length
    }
    val idx = new Array[Int](indptr(nDocs))
    val vals = new Array[Double](indptr(nDocs))
    collected.zipWithIndex.foreach { case ((_, f), i) =>
      var p = indptr(i)
      f.foreach { case (j, v) => idx(p) = j; vals(p) = v; p += 1 }
    }

    val w = new Array[Double](buckets)
    var b = 0.0
    val n = nDocs.toDouble
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](buckets)
      var gb = 0.0
      var i = 0
      while (i < nDocs) {
        var m = b
        var p = indptr(i)
        val end = indptr(i + 1)
        while (p < end) { m += w(idx(p)) * vals(p); p += 1 }
        val err = 1.0 / (1.0 + math.exp(-m)) - ys(i)
        p = indptr(i)
        while (p < end) { gw(idx(p)) += err * vals(p); p += 1 }
        gb += err
        i += 1
      }
      var j = 0
      while (j < buckets) {
        w(j) -= lr * (gw(j) / n + l2 * w(j)); j += 1
      }
      b -= lr * gb / n
      it += 1
    }
    Model(w, b, buckets)
  }

  /** Score every document: `(doc_id, quality_prob)` = σ(w·x + bias).
    * One tokenize pass; the weight table (≤ `buckets` rows) broadcasts
    * onto the bucket explode; the per-doc dot is a map-side-combined
    * groupBy on doc_id. Token-less docs score at the bias via the
    * left join's zero dot.
    *
    * The dot is a rounded-term DECIMAL(28,9) sum (the x25/x47
    * order-independence discipline): each w·v term is rounded to 9 dp
    * before the distributed reduction, so the per-doc dot — which
    * feeds σ then ROUND(·,6) at the gate — cannot drift with
    * partition order. 9 dp keeps term-rounding error ≤ buckets·5e-10,
    * three orders below the gate's 6-dp output grain. */
  def score(docs: DataFrame, m: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf = m.weights.zipWithIndex.collect {
      case (w, j) if w != 0.0 => (j.toLong, w)
    }.toSeq.toDF("bucket", "w")
    val dots = bucketTf(docs, m.buckets)
      .join(broadcast(wdf), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(sum(round(coalesce(col("w"), lit(0.0)) * col("v"), 9)
        .cast(DecimalType(28, 9))).as("dot"))
    docs.select("doc_id")
      .join(dots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("dot").cast("double"), lit(0.0)) + lit(m.bias)))))
          .as("quality_prob"))
    // no ordering here: a global sort belongs to consumers that need
    // one (the x45 gate adds its oracle-mandated doc_id order itself)
  }

  /** Persist a trained [[Model]] as a one-row parquet (the
    * saveLmModel/savePqIndex analog for the driver-held weight
    * vector): a production pipeline trains once on a curated slice,
    * saves, and every later scoring batch loads — no retrain. The
    * array round-trips through parquet's double type exactly, so a
    * loaded model scores bitwise-identically (Round11Spec pin). */
  def saveModel(m: Model, spark: org.apache.spark.sql.SparkSession,
                path: String): Unit = {
    import spark.implicits._
    Seq((m.weights.toSeq, m.bias, m.buckets))
      .toDF("weights", "bias", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveModel]] artifact. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Model = {
    val r = spark.read.parquet(path).collect()(0)
    Model(r.getSeq[Double](0).toArray, r.getDouble(1), r.getInt(2))
  }
}
