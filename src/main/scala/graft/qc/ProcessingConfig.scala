package graft.qc

import graft.util.Json
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The processing-config document (`4_Prepare_experiment.r:338-357`):
  * per QC step — `{enabled, auto, filterSettings}` defaults plus a
  * `sample-<name>` block with that sample's resolved settings
  * (`add_custom_config_per_sample`, `:310-334`, which strips the
  * `auto`/`enabled` gates from the per-sample blocks). */
object ProcessingConfig {

  /** Steps that get per-sample resolved blocks — the reference adds
    * `sample-<name>` configs for exactly these three
    * (`4_Prepare_experiment.r:332-334`). */
  val PerSampleSteps: Set[String] =
    Set("cellSizeDistribution", "numGenesVsNumUmis", "doubletScores")

  /** `settings` is QcSteps.runAll's per-step `(sample, key…)` tables
    * of numeric settings; the collect is #samples × #steps rows. The
    * document carries the reference's full 7-key shape: the five
    * filter steps plus the dataIntegration and configureEmbedding
    * blocks (`4_Prepare_experiment.r:338-348`, defaults `:251-270`). */
  def build(configs: Map[String, StepConfig],
            settings: Map[String, DataFrame]): String = {
    // ONE action over the per-sample steps' settings, unioned as
    // (step, sample, the values in settingKeys order)
    val perSample = QcSteps.all.filter(s => PerSampleSteps.contains(s.name))
      .flatMap(step => settings.get(step.name).map(_.select(lit(step.name).as("step"),
        col("sample"), array(step.settingKeys.map(col(_).cast("double")): _*).as("values"))))
    val rows =
      if (perSample.isEmpty) Array.empty[Row] else perSample.reduce(_ unionByName _).collect()
    val stepDocs: Seq[(String, Any)] = QcSteps.all.map { step =>
      val cfg = configs.getOrElse(step.name, StepConfig())
      val resolved = rows.filter(_.getString(0) == step.name).map { r =>
        val kv: Map[String, Any] = step.settingKeys.zip(r.getSeq[Any](2)).toMap
        s"sample-${r.getString(1)}" -> Map("filterSettings" -> kv)
      }.toSeq.sortBy(_._1)
      val base: Seq[(String, Any)] = Seq(
        "enabled" -> cfg.enabled,
        "auto" -> cfg.auto,
        "filterSettings" -> step.settingKeys
          .map(k => k -> cfg.settings.getOrElse(k, null)).toMap)
      step.name -> (base ++ resolved)
    }
    val analysisDocs: Seq[(String, Any)] = Seq(
      "dataIntegration" -> Map(
        "dataIntegration" -> Map(
          "method" -> "seuratv4",
          "methodSettings" -> Map("seuratv4" -> Map(
            "numGenes" -> 2000, "normalisation" -> "logNormalize"))),
        "dimensionalityReduction" -> Map(
          "method" -> "rpca", "numPCs" -> 30,
          "excludeGeneCategories" -> Seq.empty[String])),
      "configureEmbedding" -> Map(
        "embeddingSettings" -> Map(
          "method" -> "umap",
          "methodSettings" -> Map(
            "umap" -> Map("minimumDistance" -> 0.3, "distanceMetric" -> "euclidean"),
            "tsne" -> Map("perplexity" -> 30, "learningRate" -> 200))),
        "clusteringSettings" -> Map(
          "method" -> "louvain",
          "methodSettings" -> Map("louvain" -> Map("resolution" -> 0.5)))))
    Json.write(stepDocs ++ analysisDocs)
  }
}
