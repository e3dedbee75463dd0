package perfbench

import graft.Ingest
import graft.core.{Experiment, Invariants}
import graft.export.CellSets
import graft.ml.{Doublets, EmptyDrops}
import graft.operators.MergeSamples
import graft.qc.{CellQc, ProcessingConfig, QcSteps}
import graft.sources.Mtx
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `ingest`: one operation is the paper's whole pipeline,
  * `Ingest.run` + `Ingest.export`, over the generated 10x
  * experiment. Items are barcodes read. */
object IngestBench {

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val samples = new java.io.File(ctx.inputs).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.getAbsolutePath).sortBy(_._1).toSeq
    val planted = samples.map { case (s, dir) =>
      val bcs = scala.io.Source.fromFile(s"$dir/barcodes.tsv").getLines().toVector
      s -> (bcs.count(_.startsWith("CELL")), bcs.count(_.startsWith("AMB")))
    }.toMap
    val barcodes = planted.values.map { case (r, a) => (r + a).toLong }.sum
    // one metadata column, so the metadata cell sets and TSVs are exported too
    val condition = samples.zipWithIndex.map { case ((s, _), i) => s -> Seq("ctrl", "treat")(i % 2) }
    val config = Ingest.Config(name = "perfbench", samples = samples,
      metadata = Map("condition" -> condition.toMap))

    var last: Option[Ingest.Result] = None
    // data caches from the previous operation are dropped untimed, so
    // every operation pays its own reads and persists
    val clear = (_: Int) => spark.catalog.clearCache()
    val md5s = scala.collection.mutable.ArrayBuffer.empty[String]
    def untraced(i: Int): Long = {
      val r = Ingest.run(spark, config)
      md5s += Ingest.export(spark, r, s"${ctx.work}/export-$i")
      last = Some(r)
      barcodes
    }
    // the cells the checks read, collected untimed while the result's
    // caches are still in place
    var cells = Array.empty[org.apache.spark.sql.Row]
    def snapshot(): Unit = last.foreach { r =>
      cells = r.experiment.cells.select("sample", "barcode", "emptyDrops_FDR").collect()
    }
    var layers = Map.empty[String, Double]
    var spans = Seq.empty[Map[String, Any]]
    val ops =
      if (!ctx.trace) ctx.closedLoop(i => s"ingest$i", prepare = clear)(untraced)
      else {
        // untimed: the session's first Spark jobs, file reads and their
        // JIT land here, not in the traced operation's first span
        samples.foreach { case (name, dir) => Mtx.read10x(spark, dir, name)._1.count() }
        // one traced operation: an untraced twin for an A/B overhead does
        // not fit the run's time limit beside it, so the tracer's own
        // cost, the time inside its listener callbacks, stands for it
        val tracer = new Tracer(spark, ctx.cores)
        val traced = ctx.closedLoop(_ => "staged-traced", maxOps = 1, prepare = clear) { _ =>
          val (r, md5) = staged(ctx, tracer, config, "staged-traced")
          last = Some(r); md5s += md5; barcodes
        }
        tracer.listener.quiesce()
        tracer.detach()
        spans = tracer.all.map(tracer.record)
        val listenerS = tracer.listener.busyNs.get / 1e9
        layers = Map("trace_overhead_s" -> listenerS, "trace_listener_s" -> listenerS)
        traced
      }
    snapshot()
    // untimed: the same result exported again must give the same id
    last.foreach(r => md5s += Ingest.export(spark, r, s"${ctx.work}/export-again"))
    val notes = Map[String, Any]("barcodes_per_op" -> barcodes, "md5" -> md5s.toSeq)

    val checks = last match {
      case None => Map("ingest_completed" -> false)
      case Some(r) =>
        val perSample = cells.groupBy(_.getString(0)).map { case (s, rs) => s -> rs.length }
        Map(
          "experiment_md5_stable" -> (md5s.size >= 2 && md5s.distinct.size == 1),
          "invariants_hold" -> r.violations.isEmpty,
          "no_flagged_samples" -> r.flaggedSamples.isEmpty,
          "real_cells_recovered" -> planted.forall { case (s, (real, _)) =>
            perSample.getOrElse(s, 0) == real },
          "ambient_excluded" -> cells.forall(_.getString(1).startsWith("CELL")),
          "real_cells_called_by_emptydrops" -> cells.forall(c =>
            !c.isNullAt(2) && c.getDouble(2) <= 0.01))
    }
    Outcome(0.0, ops, checks, notes, layers, spans)
  }

  /** A copy of `Ingest.run` with its stages called one by one, each in
    * its own span, followed by `Ingest.export`. Where `Ingest.run`
    * leaves a stage's output lazy, this persists and counts it, so each
    * stage's work lands in its own span and is computed once (Ingest.run
    * evaluates the emptyDrops scores twice: once for its `isEmpty` test
    * and once in the join). The per-layer figures therefore come from
    * this copy, not from `Ingest.run`: a change inside a stage function
    * moves them, a change to `Ingest.run`'s own wiring does not. Returns
    * the result and the experiment id, which must equal `Ingest.run`'s. */
  private def staged(ctx: Ctx, t: Tracer, config: Ingest.Config,
                     id: String): (Ingest.Result, String) = {
    import ctx.spark
    def forced(df: DataFrame): DataFrame = { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
    t.span("ingest.op", id) {
      val (rawExpr, annotations) = t.span("sources.read10x", id) {
        val perSample = config.samples.map { case (name, dir) => Mtx.read10x(spark, dir, name) }
        (forced(perSample.map(_._1).reduce(_ unionByName _)),
          MergeSamples.unionAnnotations(perSample.map(_._2)))
      }
      val ed = t.span("ml.emptyDrops", id) {
        val r = EmptyDrops.run(rawExpr, config.emptyDropsLower, config.emptyDropsIters)
        r.copy(scores = forced(r.scores))
      }
      val doublets = t.span("ml.doublets", id) {
        forced(Doublets.scores(CellQc.minFeatureFilter(rawExpr, config.minFeatures)))
      }
      val (trimmed, withScores) = t.span("qc.cellMetrics", id) {
        val trimmed = forced(CellQc.degreeFilter(rawExpr, config.minCells, config.minFeatures))
        val metrics = CellQc.cellMetrics(trimmed, annotations)
        (trimmed, forced(metrics
          .join(doublets, Seq("sample", "barcode"), "left")
          .join(ed.scores, Seq("sample", "barcode"), "left")
          .withColumn("flag_filtered", col("sample").isin(ed.flagged: _*))))
      }
      val (genes, cells) = t.span("operators.mergeSamples", id) {
        val genes = MergeSamples.dedupGeneNames(annotations)
        val withMeta = config.metadata.foldLeft(withScores) { case (df, (colName, bySample)) =>
          import spark.implicits._
          df.join(broadcast(bySample.toSeq.toDF("sample", colName)), Seq("sample"), "left")
        }
        (genes, forced(MergeSamples.withCellsId(MergeSamples.withCellName(withMeta))))
      }
      val processingConfig = t.span("qc.steps", id) {
        val (_, settings) = QcSteps.runAll(cells, config.stepConfigs)
        ProcessingConfig.build(config.stepConfigs, settings)
      }
      val exp = Experiment(trimmed, cells, genes)
      val violations = t.span("core.invariants", id)(Invariants.check(exp))
      val cellSetsJson = t.span("export.cellSets", id) {
        val docs = CellSets.toJsonDocument(CellSets.fromColumn(cells, "sample", "sample"),
          "sample", "Samples") +: config.metadata.keys.toSeq.sorted.map { m =>
          CellSets.toJsonDocument(CellSets.fromColumn(cells, m, s"metadata-$m"), m, m)
        }
        ("""{"key":"scratchpad","name":"Scratchpad","rootNode":true,"children":[]}""" +: docs)
          .mkString("""{"cellSets":[""", ",", "]}")
      }
      val result = Ingest.Result(exp, processingConfig, cellSetsJson, ed.flagged, violations,
        config.metadata.keys.toSeq.sorted)
      (result, t.span("export.write", id)(Ingest.export(spark, result, s"${ctx.work}/export-$id")))
    }
  }
}
