package graft

import graft.core.{Experiment, Invariants}
import graft.export.CellSets
import graft.ml.{Doublets, EmptyDrops}
import graft.operators.MergeSamples
import graft.qc.{CellQc, ProcessingConfig, QcSteps, StepConfig}
import graft.sources.Mtx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full ingest lifecycle (`docker-entrypoint.sh:4-10`, SURVEY
  * §3.1) as ONE Spark lineage: the reference's six OS processes with
  * file hand-offs become DataFrame stages with explicit persists at
  * the multiply-consumed cut points (the RDS checkpoints).
  *
  * Stage map (reference → here):
  *  - P1 `1_Preproc.r`        → Mtx.read10x per sample + annotation union
  *  - P2 `2-1 emptyDrops`     → EmptyDrops.run
  *  - P3 `2-2 doublets`       → Doublets.scores (over min-feature-filtered cells)
  *  - P4 `3_Seurat.r`         → degree trim + CellQc.cellMetrics + score joins
  *  - P5 `4_Prepare.r`        → merge/rename/cells_id + auto-config + invariants
  *  - P6 `5_Upload-to-aws.py` → cell-sets JSON (the AWS I/O stays out of engine scope)
  */
object Ingest {

  final case class Config(
      name: String,
      samples: Seq[(String, String)], // (sampleName, 10x dir)
      stepConfigs: Map[String, StepConfig] = Map.empty,
      minCells: Int = 3, minFeatures: Int = 10,
      emptyDropsLower: Long = 100, emptyDropsIters: Int = 1000,
      metadata: Map[String, Map[String, String]] = Map.empty, // col -> sample -> value
      // When set, the merged raw matrix is checkpointed to
      // `<dir>/raw_expr` partitioned by sample (the stage-1 RDS
      // checkpoint, `1_Preproc.r:174`) and the later stages read it
      // back from disk instead of holding the union in memory. No stage
      // filters by sample; a reader that does scans one directory
      // (PartitionFilters asserted in PlanSpec).
      checkpointDir: Option[String] = None)

  final case class Result(
      experiment: Experiment,
      processingConfig: String,
      cellSetsJson: String,
      flaggedSamples: Seq[String],
      violations: Seq[String],
      metadataCols: Seq[String] = Nil)

  def run(spark: SparkSession, config: Config): Result = {
    import spark.implicits._
    // queries run later on this session may call the native graft_*
    // functions
    graft.functions.GraftExtensions.register(spark)

    // P1: read samples, union expr + annotations
    val perSample = config.samples.map { case (name, dir) =>
      Mtx.read10x(spark, dir, name)
    }
    val merged = perSample.map(_._1).reduce(_ unionByName _)
    val rawExpr = config.checkpointDir match {
      case Some(dir) =>
        merged.write.mode("overwrite").partitionBy("sample")
          .parquet(s"$dir/raw_expr")
        // supply the written schema: partition-column TYPE INFERENCE
        // would otherwise mangle numeric-looking sample names
        // ("007" -> int 7) and silently break every string-keyed join
        spark.read.schema(merged.schema).parquet(s"$dir/raw_expr")
          .select("sample", "barcode", "gene", "count")
      case None =>
        merged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val annotations = MergeSamples.unionAnnotations(perSample.map(_._2))

    // P2: emptyDrops on the RAW matrix (pre-trim, `2-1:12`)
    val ed = EmptyDrops.run(rawExpr, config.emptyDropsLower, config.emptyDropsIters)

    // P3: doublet scores over min-feature-filtered cells (`2-2:31,34`)
    val preDoublet = CellQc.minFeatureFilter(rawExpr, config.minFeatures)
    val doublets = Doublets.scores(preDoublet)

    // P4: per-sample assembly — degree trim, metrics, metadata joins
    val trimmed = CellQc.degreeFilter(rawExpr, config.minCells, config.minFeatures)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val metrics = CellQc.cellMetrics(trimmed, annotations)
    val withScores = metrics
      .join(doublets, Seq("sample", "barcode"), "left")
      .join(ed.scores, Seq("sample", "barcode"), "left")
      .withColumn("flag_filtered",
        col("sample").isin(ed.flagged: _*))

    // P5: merge + gene dedup + dense cells_id + auto-config + invariants
    val genes = MergeSamples.dedupGeneNames(annotations)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cellsWithMeta = config.metadata.foldLeft(withScores) {
      case (df, (colName, bySample)) =>
        val m = bySample.toSeq.toDF("sample", colName)
        df.join(broadcast(m), Seq("sample"), "left")
    }
    val cells = MergeSamples.withCellsId(MergeSamples.withCellName(cellsWithMeta))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ingest resolves the step configs; the filters run downstream
    val (_, stepSettings) = QcSteps.runAll(cells, config.stepConfigs)
    val processingConfig = ProcessingConfig.build(config.stepConfigs, stepSettings)

    val exp = Experiment(trimmed, cells, genes)
    val violations = Invariants.check(exp)

    // P6: cell sets — the reference document is an OBJECT
    // {"cellSets": [...]} led by an empty scratchpad root
    // (`5_Upload-to-aws.py:138-143,254-256`)
    val sampleSets = CellSets.fromColumn(cells, "sample", "sample")
    val sampleJson = CellSets.toJsonDocument(sampleSets, "sample", "Samples")
    val metaJsons = config.metadata.keys.toSeq.sorted.map { m =>
      CellSets.toJsonDocument(
        CellSets.fromColumn(cells, m, s"metadata-$m"), m, m)
    }
    val scratchpad =
      """{"key":"scratchpad","name":"Scratchpad","rootNode":true,"children":[]}"""
    val cellSetsJson = (scratchpad +: sampleJson +: metaJsons)
      .mkString("""{"cellSets":[""", ",", "]}")

    if (config.checkpointDir.isEmpty) rawExpr.unpersist()
    Result(exp, processingConfig, cellSetsJson, ed.flagged, violations,
      config.metadata.keys.toSeq.sorted)
  }

  /** Export the experiment like stage-5 does (`4_Prepare_experiment.r:
    * 161-214`): parquet experiment dirs + transposed MTX. Returns the
    * experiment id = MD5 over the exported matrix bytes
    * (`5_Upload-to-aws.py:37-42,201-207` — the reference effectively
    * hashes only the two MTX exports; SURVEY §2.9 quirk note). */
  def export(spark: SparkSession, result: Result, outDir: String): String = {
    result.experiment.cells.write.mode("overwrite").parquet(s"$outDir/cells")
    result.experiment.genes.write.mode("overwrite").parquet(s"$outDir/genes")
    result.experiment.expr.write.mode("overwrite")
      .partitionBy("sample").parquet(s"$outDir/expr")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/processing_config.json"),
      result.processingConfig)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/cell_sets.json"), result.cellSetsJson)

    // stage-4/5 TSV suite (4_Prepare_experiment.r:168-201, 3_Seurat.r:135-136)
    graft.export.TsvExports.writeAll(
      result.experiment, result.metadataCols, result.flaggedSamples, outDir)

    // transposed MTX of the raw counts, cells as rows (r:204-214)
    val geneIdx = result.experiment.genes
      .select(col("input").as("gene"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("input")).cast("long").as("gene_idx"))
    val cellIdx = result.experiment.cells
      .select(col("sample"), col("barcode"), (col("cells_id") + 1).as("cell_idx"))
    val triples = result.experiment.expr
      .join(geneIdx, "gene")
      .join(cellIdx, Seq("sample", "barcode"))
    val nGenes = result.experiment.genes.count()
    val nCells = result.experiment.cells.count()
    Mtx.writeMtx(triples, "gene_idx", "cell_idx", "count",
      nGenes, nCells, s"$outDir/matrix_mtx")

    // experiment id: md5 over the exported matrix bytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val dir = new java.io.File(s"$outDir/matrix_mtx")
    dir.listFiles().filter(_.getName.endsWith(".txt")).sortBy(_.getName)
      .foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    md.digest().map("%02x".format(_)).mkString
  }
}
