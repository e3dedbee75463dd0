package graft.qc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The QC step protocol (`SURVEY §3.2`): every step is
  * `(cells, config) → {cells', resolved-settings, …}` with
  * `enabled`/`auto` gates — the engine's `trait QcStep` equivalent of
  * the reference's `{data, config, plotData}` envelope
  * (`cellSizeDistribution.r:50-99` et al.).
  *
  * The reference resolves auto settings per sample in a serial loop
  * (`4_Prepare_experiment.r:310-329`); here `autoSettings` returns ONE
  * DataFrame keyed by sample — every sample's threshold from a single
  * grouped pass, and the filter is a broadcast join against that
  * settings table. Steps, `run` and `QcSteps.runAll` only build plans:
  * nothing runs until a caller reads the cells or the settings.
  */
final case class StepConfig(
    enabled: Boolean = true,
    auto: Boolean = true,
    settings: Map[String, Double] = Map.empty)

final case class StepOutcome(cells: DataFrame, settings: DataFrame,
                             plots: Map[String, DataFrame])

trait QcStep {
  def name: String
  def settingKeys: Seq[String]

  /** Data-derived per-sample defaults: `(sample, <settingKeys…>)`. */
  def autoSettings(cells: DataFrame): DataFrame

  /** Filter `cells` given the per-sample settings table. */
  def filter(cells: DataFrame, settings: DataFrame): DataFrame

  /** The step's plot-data tables over the INPUT cells (the reference
    * plots pre-filter data — `cellSizeDistribution.r:82-96`,
    * `mitochondrialContent.r:60-80`). */
  def plotData(cells: DataFrame): Map[String, DataFrame] = Map.empty

  private def manualSettings(cells: DataFrame, cfg: StepConfig): DataFrame =
    cells.select("sample").distinct()
      .select(col("sample") +: settingKeys.map(k => lit(cfg.settings(k)).as(k)): _*)

  /** Per-sample settings from `cells` — the reference resolves these on
    * the UNfiltered per-sample data (`4_Prepare_experiment.r:317`). */
  final def resolveSettings(cells: DataFrame, cfg: StepConfig): DataFrame =
    if (cfg.auto) autoSettings(cells) else manualSettings(cells, cfg)

  final def run(cells: DataFrame, cfg: StepConfig): StepOutcome = {
    val s = resolveSettings(cells, cfg)
    val out = if (cfg.enabled) filter(cells, s) else cells
    StepOutcome(out, s, plotData(cells))
  }
}

/** Step 1 — cell size filter (`cellSizeDistribution.r:50-99`): keep
  * `nCount >= minCellSize`; auto threshold = barcode-rank knee. */
object CellSizeStep extends QcStep {
  val name = "cellSizeDistribution"
  val settingKeys = Seq("minCellSize")

  def autoSettings(cells: DataFrame): DataFrame =
    Knee.thresholds(cells.select("sample", "barcode", "nCount"))
      .select(col("sample"), col("minCellSize").cast("double"))

  def filter(cells: DataFrame, settings: DataFrame): DataFrame =
    // left join + null-pass: a sample with no resolvable knee (e.g. no
    // barcode above thresholdLow) passes through unfiltered instead of
    // being deleted by an inner join
    cells.join(broadcast(settings), Seq("sample"), "left")
      .filter(col("minCellSize").isNull || col("nCount") >= col("minCellSize"))
      .drop("minCellSize")

  /** `cellSizeDistribution.r:82-96`: UMI histogram + barcode-rank curve. */
  override def plotData(cells: DataFrame): Map[String, DataFrame] = Map(
    "histogram" -> PlotData.histogram(cells, "nCount", binStep = 200),
    "knee" -> PlotData.rankCurve(cells))
}

/** Step 2 — mitochondrial content (`mitochondrialContent.r:34-84`):
  * keep `fraction_mt <= maxFraction`; auto = absolute threshold 0.1
  * (`mitochondrialContent.r:11-18` — hardcoded in the reference). */
object MitoContentStep extends QcStep {
  val name = "mitochondrialContent"
  val settingKeys = Seq("maxFraction")

  def autoSettings(cells: DataFrame): DataFrame =
    cells.select("sample").distinct().withColumn("maxFraction", lit(0.1))

  def filter(cells: DataFrame, settings: DataFrame): DataFrame =
    cells.join(broadcast(settings), Seq("sample"), "left")
      .filter(col("maxFraction").isNull || col("fraction_mt") <= col("maxFraction"))
      .drop("maxFraction")

  /** `mitochondrialContent.r:60-80`: fraction histogram + UMIs scatter. */
  override def plotData(cells: DataFrame): Map[String, DataFrame] = Map(
    "mitochondrialFractionHistogram" ->
      PlotData.histogram(cells, "fraction_mt", binStep = 0.05),
    "mitochondrialFractionScatter" ->
      cells.select(col("sample"), col("barcode"), col("nCount").as("u"),
        col("fraction_mt").as("MT_content")))
}

/** Step 3 — classifier / emptyDrops filter (`classifier.r:38-88`):
  * keep `emptyDrops_FDR <= FDR`; R `subset` drops NA and so does a
  * null-valued comparison here. Auto = 0.1 (`classifier.r:16-21`). */
object ClassifierStep extends QcStep {
  val name = "classifier"
  val settingKeys = Seq("FDR")

  def autoSettings(cells: DataFrame): DataFrame =
    cells.select("sample").distinct().withColumn("FDR", lit(0.1))

  def filter(cells: DataFrame, settings: DataFrame): DataFrame =
    cells.join(broadcast(settings), Seq("sample"), "left")
      .filter(col("FDR").isNull || col("emptyDrops_FDR") <= col("FDR"))
      .drop("FDR")

  /** `classifier.r:46-51`: FDR vs log10(UMIs) pairs. */
  override def plotData(cells: DataFrame): Map[String, DataFrame] = Map(
    "fdrVsLogU" -> cells.select(col("sample"), col("barcode"),
      col("emptyDrops_FDR").as("FDR"), log10(col("nCount")).as("log_u")))
}

/** Step 4 — doublet filter (`doubletScores.r:31-70`): keep
  * `doublet_scores <= probabilityThreshold`; auto threshold = max
  * score among singlets (`doubletScores_config.r:11`). */
object DoubletScoresStep extends QcStep {
  val name = "doubletScores"
  val settingKeys = Seq("probabilityThreshold")

  def autoSettings(cells: DataFrame): DataFrame =
    cells.filter(col("doublet_class") === "singlet")
      .groupBy("sample")
      .agg(max(col("doublet_scores")).as("probabilityThreshold"))

  def filter(cells: DataFrame, settings: DataFrame): DataFrame =
    // a sample with zero singlets yields no threshold row: pass through
    cells.join(broadcast(settings), Seq("sample"), "left")
      .filter(col("probabilityThreshold").isNull ||
        col("doublet_scores") <= col("probabilityThreshold"))
      .drop("probabilityThreshold")

  /** `doubletScores.r:56-66`: score histogram. */
  override def plotData(cells: DataFrame): Map[String, DataFrame] = Map(
    "probabilityOfBeingDoublet" ->
      PlotData.histogram(cells, "doublet_scores", binStep = 0.02))
}

/** Step 5 — genes vs UMIs band filter (`numGenesVsNumUmis.r:51-112`):
  * robust fit of `log10(nFeature) ~ log10(nCount)` per sample, drop
  * cells outside the `1 − p_level` prediction band. Auto
  * `p_level = min(0.001, 1/nCells)` (`numGenesVsNumUmis_config.r:7`,
  * `numGenesVsNumUmis.r:62-63`). */
object NumGenesVsNumUmisStep extends QcStep {
  val name = "numGenesVsNumUmis"
  val settingKeys = Seq("p_level")

  def autoSettings(cells: DataFrame): DataFrame =
    cells.groupBy("sample")
      .agg(least(lit(0.001), lit(1.0) / count(lit(1))).as("p_level"))

  def filter(cells: DataFrame, settings: DataFrame): DataFrame = {
    val pts = cells
      .withColumn("__x", log10(col("nCount")))
      .withColumn("__y", log10(col("nFeature")))
    // one row per sample: the fit and its band's t quantile (null for
    // n <= 2 or no p_level, which keeps the whole sample)
    val band = Rlm.fitPerSample(pts, "__x", "__y")
      .join(broadcast(settings.select("sample", "p_level")), Seq("sample"), "left")
      .withColumn("__tq", Rlm.tQuantile(col("p_level"), col("n") - 2))
      .drop("p_level")
    pts
      .join(broadcast(band), Seq("sample"), "left")
      .withColumn("__pred", col("alpha") + col("beta") * col("__x"))
      .withColumn("__se", col("sigma") *
        sqrt(lit(1.0) + lit(1.0) / col("n") +
          // degenerate sample (all x equal): leverage term is 0, and
          // the division must not evaluate under ANSI
          when(col("sxx") > 0,
            (col("__x") - col("xbar")) * (col("__x") - col("xbar")) / col("sxx"))
            .otherwise(lit(0.0))))
      .filter(col("__tq").isNull ||
        (col("__y") <= col("__pred") + col("__tq") * col("__se") &&
          col("__y") >= col("__pred") - col("__tq") * col("__se")))
      .drop("alpha", "beta", "sigma", "xbar", "sxx", "n", "__tq",
        "__x", "__y", "__pred", "__se")
  }

  /** `numGenesVsNumUmis.r:97-107`: log-log scatter pairs. */
  override def plotData(cells: DataFrame): Map[String, DataFrame] = Map(
    "featuresvsUMIsscatterplot" -> PlotData.genesVsUmis(cells))
}

object QcSteps {
  /** The ingest-order step chain (`docker-entrypoint.sh` stages 2-4 →
    * platform QC order). */
  val all: Seq[QcStep] = Seq(
    ClassifierStep, CellSizeStep, MitoContentStep,
    NumGenesVsNumUmisStep, DoubletScoresStep)

  /** Run the chain; returns final cells + per-step resolved settings —
    * the engine's `add_custom_config_per_sample`
    * (`4_Prepare_experiment.r:310-334`). */
  def runAll(cells: DataFrame, configs: Map[String, StepConfig]): (DataFrame, Map[String, DataFrame]) =
    all.foldLeft((cells, Map.empty[String, DataFrame])) {
      case ((c, acc), step) =>
        val cfg = configs.getOrElse(step.name, StepConfig())
        // settings resolve on the ORIGINAL cells (the reference's
        // add_custom_config_per_sample subsets by sample, never by the
        // previous steps\' filters, 4_Prepare_experiment.r:317-319);
        // the filter chain still composes
        val settings = step.resolveSettings(cells, cfg)
        val out = if (cfg.enabled) step.filter(c, settings) else c
        (out, acc + (step.name -> settings))
    }
}
