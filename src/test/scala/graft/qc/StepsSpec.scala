package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StepsSpec extends SparkSpec {
  import spark.implicits._

  private def cellsDf = Seq(
    // sample, barcode, nCount, nFeature, fraction_mt, doublet_scores, doublet_class, emptyDrops_FDR
    ("s1", "A", 1000L, 300L, 0.05, 0.10, "singlet", Some(0.001)),
    ("s1", "B", 2000L, 500L, 0.30, 0.20, "singlet", Some(0.05)),
    ("s1", "C", 1500L, 400L, 0.08, 0.90, "doublet", Some(0.2)),
    ("s1", "D", 1200L, 350L, 0.02, 0.15, "singlet", None: Option[Double]),
  ).toDF("sample", "barcode", "nCount", "nFeature", "fraction_mt",
    "doublet_scores", "doublet_class", "emptyDrops_FDR")

  private def keep(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.getAs[String]("barcode")).toSet

  test("mito step auto: fraction_mt <= 0.1 (hardcoded reference default)") {
    val out = MitoContentStep.run(cellsDf, StepConfig())
    assert(keep(out.cells) == Set("A", "C", "D"))
    val s = out.settings.collect()(0)
    assert(s.getAs[Double]("maxFraction") == 0.1)
  }

  test("classifier step: FDR <= 0.1, nulls dropped like R subset") {
    val out = ClassifierStep.run(cellsDf, StepConfig())
    assert(keep(out.cells) == Set("A", "B"))
  }

  test("doublet step auto threshold = max singlet score") {
    val out = DoubletScoresStep.run(cellsDf, StepConfig())
    // max singlet score = 0.2 -> C (0.9) dropped
    assert(keep(out.cells) == Set("A", "B", "D"))
    assert(out.settings.collect()(0).getAs[Double]("probabilityThreshold") == 0.2)
  }

  test("auto threshold reproduces the conditional max over real GBT scores") {
    // end-to-end scDblFinder calibration semantics
    // (doubletScores_config.r:11 — the boundary is derived from the
    // score distribution, max(score | singlet), not a fixed 0.5): run
    // the actual boosted-tree scorer, then assert the step's auto mode
    // resolves exactly that conditional max over ITS scores
    val clusterA = (0 until 20).flatMap { i =>
      (0 until 8).map(g => ("s1", f"a$i%02d", s"gA$g", 20L + (i % 3)))
    }
    val clusterB = (0 until 20).flatMap { i =>
      (0 until 8).map(g => ("s1", f"b$i%02d", s"gB$g", 20L + (i % 3)))
    }
    val planted = (0 until 2).flatMap { i =>
      (0 until 8).map(g => ("s1", s"dbl$i", s"gA$g", 20L + i)) ++
        (0 until 8).map(g => ("s1", s"dbl$i", s"gB$g", 20L + i))
    }
    val expr = (clusterA ++ clusterB ++ planted)
      .toDF("sample", "barcode", "gene", "count")
    val scored = graft.ml.Doublets.scores(expr, k = 10, numHvg = 16, numPcs = 5)
    val resolved = DoubletScoresStep
      .resolveSettings(scored, StepConfig(auto = true))
      .collect()(0).getAs[Double]("probabilityThreshold")
    val rows = scored.collect().map(r =>
      (r.getAs[String]("barcode"), r.getAs[Double]("doublet_scores"),
        r.getAs[String]("doublet_class")))
    val expected = rows.filter(_._3 == "singlet").map(_._2).max
    assert(resolved == expected, s"resolved $resolved != max-singlet $expected")
    // and the filter keeps exactly the cells at or below that boundary
    val kept = keep(DoubletScoresStep.run(scored, StepConfig()).cells)
    assert(kept == rows.filter(_._2 <= expected).map(_._1).toSet)
  }

  test("steps emit plot-data tables over the input cells") {
    val out = MitoContentStep.run(cellsDf, StepConfig())
    assert(out.plots.keySet == Set(
      "mitochondrialFractionHistogram", "mitochondrialFractionScatter"))
    // plotted over INPUT (4 cells), not the filtered output (3)
    assert(out.plots("mitochondrialFractionScatter").count() == 4)
    val knee = CellSizeStep.run(cellsDf, StepConfig(enabled = false))
    assert(knee.plots("knee").count() == 4)
  }

  test("disabled step filters nothing but still resolves settings") {
    val out = MitoContentStep.run(cellsDf, StepConfig(enabled = false))
    assert(keep(out.cells) == Set("A", "B", "C", "D"))
    assert(out.settings.count() == 1)
  }

  test("manual settings path overrides auto") {
    val out = MitoContentStep.run(cellsDf,
      StepConfig(auto = false, settings = Map("maxFraction" -> 0.5)))
    assert(keep(out.cells) == Set("A", "B", "C", "D"))
  }

  /** A line with jitter plus two gross outliers. */
  private def outlierPts = (0 until 60).map { i =>
    val x = 2.0 + i * 0.05
    val y = 1.0 + 2.0 * x + 0.01 * math.sin(i.toDouble)
    ("s1", s"c$i", x, y)
  } ++ Seq(("s1", "out1", 3.0, 12.0), ("s1", "out2", 4.0, 2.0))

  test("rlm recovers the line under gross outliers") {
    val fit = Rlm.fitPerSample(outlierPts.toDF("sample", "barcode", "x", "y"), "x", "y")
      .collect()(0)
    assert(math.abs(fit.getAs[Double]("alpha") - 1.0) < 0.1)
    assert(math.abs(fit.getAs[Double]("beta") - 2.0) < 0.05)
  }

  test("one-task rlm fit matches the driver-loop reference") {
    // a second sample: another line, other noise, an even cell count
    // (interpolated median) and three outliers
    val s2 = (0 until 45).map { i =>
      val x = 1.5 + i * 0.07
      ("s2", s"d$i", x, 0.4 + 0.7 * x + 0.02 * math.cos(i * 1.7))
    } ++ Seq(("s2", "o1", 2.0, 5.0), ("s2", "o2", 3.5, -1.0), ("s2", "o3", 4.0, 4.5))
    def byS(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("sample") -> r).toMap
    for (pts <- Seq(outlierPts, outlierPts ++ s2)) {
      val df = pts.toDF("sample", "barcode", "x", "y")
      val got = byS(Rlm.fitPerSample(df, "x", "y"))
      val want = byS(RlmReference.fitPerSample(df, "x", "y"))
      assert(got.keySet == want.keySet)
      for ((s, w) <- want; g = got(s)) {
        for (c <- Seq("alpha", "beta", "sigma")) {
          val (a, b) = (g.getAs[Double](c), w.getAs[Double](c))
          assert(math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)),
            s"$s.$c: $a vs reference $b")
        }
        assert(g.getAs[Long]("n") == w.getAs[Long]("n"))
      }
    }
  }

  test("numGenesVsNumUmis keeps every cell of a sample too small for a band") {
    // n <= 2 leaves no degrees of freedom: no t quantile, no band. A
    // one-cell sample has sigma exactly 0, which must not turn into a
    // NaN band that drops the cell.
    val cells = Seq(
      ("one", "a", 1000L, 300L),
      ("two", "a", 1000L, 300L), ("two", "b", 2000L, 700L),
      ("three", "a", 1000L, 300L), ("three", "b", 2000L, 500L),
      ("three", "c", 4000L, 900L))
      .toDF("sample", "barcode", "nCount", "nFeature")
    val out = NumGenesVsNumUmisStep.run(cells,
      StepConfig(auto = false, settings = Map("p_level" -> 0.001)))
    assert(out.cells.collect().map(r => r.getString(0) + "/" + r.getString(1)).toSet ==
      Set("one/a", "two/a", "two/b", "three/a", "three/b", "three/c"))
  }

  test("the QC chain only builds plans; the config document collects the settings") {
    val (_, filterJobs) = jobsDuring(NumGenesVsNumUmisStep.filter(cellsDf,
      NumGenesVsNumUmisStep.autoSettings(cellsDf)))
    assert(filterJobs == 0, s"filter launched $filterJobs jobs")
    val ((_, settings), runAllJobs) = jobsDuring(QcSteps.runAll(cellsDf, Map.empty))
    assert(runAllJobs == 0, s"runAll launched $runAllJobs jobs")
    // the three per-sample tables are one shuffle each, collected as
    // one union (AQE: three map-stage jobs, then the result job)
    val (_, buildJobs) = jobsDuring(ProcessingConfig.build(Map.empty, settings))
    assert(buildJobs == 4, s"ProcessingConfig.build launched $buildJobs jobs")
  }

  test("numGenesVsNumUmis band keeps inliers, drops outliers") {
    // log-space line with jitter + 2 gross outliers
    val rows = (0 until 60).map { i =>
      val logC = 2.0 + i * 0.02
      val logF = 0.3 + 0.8 * logC + 0.005 * math.sin(i * 2.0)
      ("s1", s"c$i", math.pow(10, logC).toLong, math.pow(10, logF).toLong)
    } ++ Seq(
      ("s1", "hi", 1000L, 900L),  // way above the band
      ("s1", "lo", 10000L, 10L))  // way below
    val cells = rows.toDF("sample", "barcode", "nCount", "nFeature")
    val out = NumGenesVsNumUmisStep.run(cells,
      StepConfig(auto = false, settings = Map("p_level" -> 0.001)))
    val kept = keep(out.cells)
    assert(!kept.contains("hi") && !kept.contains("lo"))
    assert(kept.count(_.startsWith("c")) >= 55, s"kept only ${kept.size}")
  }

  test("runAll composes the chain and returns settings per step") {
    val (outCells, settings) = QcSteps.runAll(cellsDf.filter("barcode <> 'D'"),
      Map("numGenesVsNumUmis" -> StepConfig(enabled = false),
          "cellSizeDistribution" -> StepConfig(enabled = false)))
    assert(settings.keySet == QcSteps.all.map(_.name).toSet)
    // classifier keeps A,B; mito then drops B; doublet keeps rest
    assert(keep(outCells) == Set("A"))
  }
}
