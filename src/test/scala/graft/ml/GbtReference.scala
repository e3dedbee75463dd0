package graft.ml

import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distributed reference for [[Doublets.twoRound]]: the same
  * two-round scheme with Spark ML's `GBTClassifier` as the learner, fit
  * on the feature table in ONE partition sorted by `cells_id` — the row
  * order the local learner sums in — so any difference left is the
  * learner's. Returns (barcode → doublet probability) per real cell. */
object GbtReference {

  def classify(feats: DataFrame, seed: Long): Map[String, Double] = {
    val gbt = new GBTClassifier()
      .setMaxIter(20).setMaxDepth(3).setStepSize(0.1)
      .setMinInstancesPerNode(5)
      .setFeaturesCol("__vec").setLabelCol("__label")
      .setProbabilityCol("__prob")
    val withFold = feats.orderBy("cells_id").coalesce(1)
      .select(col("barcode"), col("is_art"),
        org.apache.spark.ml.functions.array_to_vector(col("features")).as("__vec"),
        col("is_art").cast("double").as("__label"),
        when(col("is_art"), lit(-1)).otherwise(
          pmod(xxhash64(col("barcode"), lit(seed)), lit(3)).cast("int")).as("__fold"))
      .cache()
    def scored(train: DataFrame, test: DataFrame): Map[String, Double] =
      gbt.fit(train).transform(test)
        .select(col("barcode"),
          org.apache.spark.ml.functions.vector_to_array(col("__prob")).getItem(1))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val real = withFold.filter(!col("is_art"))
    val folds = real.select("__fold").distinct().collect().map(_.getInt(0)).sorted
    val p1 =
      if (folds.length < 2) scored(withFold, real)
      else folds.map(f => scored(withFold.filter(col("__fold") =!= f),
        real.filter(col("__fold") === f))).reduce(_ ++ _)
    val sorted = p1.values.toArray.sorted
    val thr = sorted(sorted.length - math.max(1, math.ceil(sorted.length * 0.1).toInt))
    val excluded = p1.collect { case (b, p) if p >= thr => b }.toSeq
    val train2 = withFold.filter(col("is_art") || !col("barcode").isin(excluded: _*))
    val out =
      if (train2.filter(!col("is_art")).isEmpty) p1 else scored(train2, real)
    withFold.unpersist()
    out
  }
}
