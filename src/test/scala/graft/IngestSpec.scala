package graft

import graft.qc.StepConfig
import java.nio.file.{Files, Path}

class IngestSpec extends SparkSpec {

  /** Two-sample 10x fixture: per sample, 60 ambient barcodes (3 genes,
    * tiny counts) + 12 real cells (12 genes incl. both MT genes,
    * totals ≫ 100). 15 genes, two of them mitochondrial. */
  private def writeSample(dir: Path, seedOff: Int): Unit = {
    val nGenes = 15
    val ambient = (0 until 60).map { i =>
      val gs = Seq(i % nGenes, (i + 5) % nGenes, (i + 10) % nGenes)
      (f"AMB$i%03d", gs.map(g => (g, 1L + (i + seedOff) % 2)))
    }
    val real = (0 until 12).map { i =>
      val gs = (0 until 10) ++ Seq(13, 14)
      (f"CELL$i%03d", gs.map(g => (g, 10L + (i * 7 + g * 3 + seedOff) % 30)))
    }
    val cells = ambient ++ real
    val triples = cells.zipWithIndex.flatMap { case ((_, gs), ci) =>
      gs.map { case (g, c) => (g + 1, ci + 1, c) }
    }
    Files.writeString(dir.resolve("matrix.mtx"),
      ("%%MatrixMarket matrix coordinate integer general" ::
        s"$nGenes ${cells.length} ${triples.length}" ::
        triples.map { case (g, c, v) => s"$g $c $v" }.toList).mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("barcodes.tsv"),
      cells.map(_._1).mkString("", "\n", "\n"))
    val names = (0 until 13).map(g => s"ENSG$g%02d\tGene$g") ++
      Seq("ENSG13\tMT-CO1", "ENSG14\tmt-nd2")
    Files.writeString(dir.resolve("features.tsv"), names.mkString("", "\n", "\n"))
  }

  private lazy val result = {
    val root = Files.createTempDirectory("ingest")
    val d1 = Files.createDirectory(root.resolve("s1"))
    val d2 = Files.createDirectory(root.resolve("s2"))
    writeSample(d1, 0); writeSample(d2, 1)
    Ingest.run(spark, Ingest.Config(
      name = "fixture-exp",
      samples = Seq("s1" -> d1.toString, "s2" -> d2.toString),
      emptyDropsIters = 99,
      metadata = Map("condition" -> Map("s1" -> "ctrl", "s2" -> "treat"))))
  }

  test("end-to-end ingest: invariants hold, no flagged samples") {
    assert(result.flaggedSamples.isEmpty)
    assert(result.violations.isEmpty, result.violations.mkString("; "))
  }

  test("invariants over the ingest result run 2 jobs (genes persisted)") {
    val exp = result.experiment
    val (violations, jobs) = jobsDuring(graft.core.Invariants.check(exp))
    assert(violations.isEmpty, violations.mkString("; "))
    assert(jobs == 2, s"$jobs jobs")
  }

  test("upload sink writes the stage-5 records and objects through Hadoop FS") {
    val root = Files.createTempDirectory("upload").toString
    val sink = new graft.export.HadoopFsSink(s"file:$root")
    graft.export.Upload.uploadExperiment(sink, result,
      experimentId = "abc123", name = "fixture-exp", env = "test",
      matrixObject = Some("MTXBYTES".getBytes("UTF-8")))
    def read(p: String) = Files.readString(java.nio.file.Paths.get(root, p))
    val exp = read("records/experiments-test/abc123.json")
    assert(exp.contains("\"apiVersion\":\"2.0.0-data-ingest-seurat-rds-automated\""))
    assert(exp.contains("\"experimentId\":\"abc123\""))
    assert(exp.contains("\"experimentName\":\"fixture-exp\""))
    assert(exp.contains("\"processingConfig\":{")) // embedded verbatim, not quoted
    val samples = read("records/samples-test/abc123.json")
    assert(samples.contains("\"ids\":[\"sample-s1\",\"sample-s2\"]"))
    val cellSets = read("objects/cell-sets-test/abc123")
    assert(cellSets == result.cellSetsJson)
    assert(read("objects/biomage-source-test/abc123/r.rds") == "MTXBYTES")
  }

  test("client-shaped upload backend receives the same four puts as the FS backend") {
    // an in-memory KeyValueClient (the aws-sdk seam: DynamoDB put_item /
    // S3 put_object argument shapes) driven through the SAME
    // uploadExperiment path as HadoopFsSink
    val items = scala.collection.mutable.Map.empty[(String, String), String]
    val objects = scala.collection.mutable.Map.empty[(String, String), Array[Byte]]
    val fake = new graft.export.KeyValueClient {
      def putItem(table: String, key: String, document: String): Unit =
        items((table, key)) = document
      def putObject(bucket: String, key: String, body: Array[Byte]): Unit =
        objects((bucket, key)) = body
    }
    graft.export.Upload.uploadExperiment(new graft.export.ClientSink(fake), result,
      experimentId = "abc123", name = "fixture-exp", env = "test",
      matrixObject = Some("MTXBYTES".getBytes("UTF-8")))
    assert(items.keySet == Set(
      ("experiments-test", "abc123"), ("samples-test", "abc123")))
    assert(objects.keySet == Set(
      ("cell-sets-test", "abc123"), ("biomage-source-test", "abc123/r.rds")))
    // payloads identical to what the FS backend persists
    val root = Files.createTempDirectory("upload-cmp").toString
    graft.export.Upload.uploadExperiment(new graft.export.HadoopFsSink(s"file:$root"),
      result, experimentId = "abc123", name = "fixture-exp", env = "test",
      matrixObject = Some("MTXBYTES".getBytes("UTF-8")))
    def read(p: String) = Files.readString(java.nio.file.Paths.get(root, p))
    assert(items(("experiments-test", "abc123")) == read("records/experiments-test/abc123.json"))
    assert(items(("samples-test", "abc123")) == read("records/samples-test/abc123.json"))
    assert(new String(objects(("cell-sets-test", "abc123")), "UTF-8") == result.cellSetsJson)
  }

  test("aws-sdk-shaped backend drives the same four puts through SDK request shapes") {
    import graft.export.aws
    // fakes at the SDK interface (not the KeyValueClient seam): what a
    // production DynamoDbClient/S3Client wrapper would receive
    val items = scala.collection.mutable.Map.empty[String, aws.PutItemRequest]
    val objects = scala.collection.mutable.Map.empty[(String, String), Array[Byte]]
    val dynamo = new aws.DynamoDbClient {
      def putItem(req: aws.PutItemRequest): Unit = items(req.tableName) = req
    }
    val s3 = new aws.S3Client {
      def putObject(req: aws.PutObjectRequest, body: Array[Byte]): Unit =
        objects((req.bucket, req.key)) = body
    }
    graft.export.Upload.uploadExperiment(
      new graft.export.ClientSink(new graft.export.AwsSdkClient(dynamo, s3)),
      result, experimentId = "abc123", name = "fixture-exp", env = "test",
      matrixObject = Some("MTXBYTES".getBytes("UTF-8")))
    // two put_item calls with the partition key + document attributes
    assert(items.keySet == Set("experiments-test", "samples-test"))
    assert(items("experiments-test").item("experimentId") == aws.AttributeValue("abc123"))
    val expDoc = items("experiments-test").item("document").s
    assert(expDoc.contains("\"apiVersion\":\"2.0.0-data-ingest-seurat-rds-automated\""))
    // two put_object calls, payloads identical to the FS backend's
    assert(objects.keySet == Set(
      ("cell-sets-test", "abc123"), ("biomage-source-test", "abc123/r.rds")))
    assert(new String(objects(("cell-sets-test", "abc123")), "UTF-8") == result.cellSetsJson)
    val root = Files.createTempDirectory("upload-sdk-cmp").toString
    graft.export.Upload.uploadExperiment(new graft.export.HadoopFsSink(s"file:$root"),
      result, experimentId = "abc123", name = "fixture-exp", env = "test")
    def read(p: String) = Files.readString(java.nio.file.Paths.get(root, p))
    assert(expDoc == read("records/experiments-test/abc123.json"))
    assert(items("samples-test").item("document").s == read("records/samples-test/abc123.json"))
  }

  test("sample-partitioned checkpoint run matches the in-memory run") {
    val root = Files.createTempDirectory("ingest-ckpt")
    val d1 = Files.createDirectory(root.resolve("s1"))
    val d2 = Files.createDirectory(root.resolve("s2"))
    writeSample(d1, 0); writeSample(d2, 1)
    val ckpt = Files.createTempDirectory("ckpt").toString
    val r = Ingest.run(spark, Ingest.Config(
      name = "fixture-exp",
      samples = Seq("s1" -> d1.toString, "s2" -> d2.toString),
      emptyDropsIters = 99,
      metadata = Map("condition" -> Map("s1" -> "ctrl", "s2" -> "treat")),
      checkpointDir = Some(ckpt)))
    // the checkpoint is laid out for per-sample partition pruning
    assert(new java.io.File(s"$ckpt/raw_expr/sample=s1").isDirectory)
    assert(new java.io.File(s"$ckpt/raw_expr/sample=s2").isDirectory)
    assert(r.violations.isEmpty, r.violations.mkString("; "))
    // cell membership must match exactly; per-cell float scores may
    // drift at fp-noise scale between layouts (distributed reductions
    // are not associativity-stable), so classes are validated, not
    // diffed row-by-row
    def key(res: Ingest.Result) = res.experiment.cells
      .select("sample", "barcode")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(key(r).toSeq == key(result).toSeq)
    val classes = r.experiment.cells.select("doublet_class")
      .collect().map(_.getString(0))
    assert(classes.forall(c => c == "singlet" || c == "doublet"))
  }

  test("degree filter leaves only real cells; ids dense") {
    val cells = result.experiment.cells.collect()
    assert(cells.length == 24)
    assert(cells.forall(_.getAs[String]("barcode").startsWith("CELL")))
    assert(cells.map(_.getAs[Long]("cells_id")).sorted.sameElements(0L until 24L))
    assert(cells.forall { r =>
      val p = r.getAs[Double]("percent_mt"); p > 0 && p < 100
    })
    assert(cells.forall(r => r.getAs[String]("condition") != null))
  }

  test("emptyDrops and doublet columns joined onto cells") {
    val cells = result.experiment.cells
    val cols = cells.columns.toSet
    assert(Set("emptyDrops_FDR", "emptyDrops_PValue", "doublet_scores",
      "doublet_class", "flag_filtered").subsetOf(cols))
    // real cells are wildly non-ambient -> tiny FDR everywhere
    val fdrs = cells.collect().map(_.getAs[Double]("emptyDrops_FDR"))
    assert(fdrs.forall(f => f != null && f < 0.05))
  }

  test("every sample flagged by emptyDrops still yields a null emptyDrops_FDR column") {
    // lower = 0 leaves no ambient pool, so emptyDrops skips and flags
    // the sample and its scores frame has no rows
    val d1 = Files.createDirectory(Files.createTempDirectory("ingest-flagged").resolve("s1"))
    writeSample(d1, 0)
    val r = Ingest.run(spark, Ingest.Config(name = "flagged-exp",
      samples = Seq("s1" -> d1.toString), emptyDropsLower = 0, emptyDropsIters = 99))
    assert(r.flaggedSamples == Seq("s1"))
    val cells = r.experiment.cells.select("emptyDrops_FDR", "flag_filtered").collect()
    assert(cells.length == 12)
    assert(cells.forall(c => c.isNullAt(0) && c.getBoolean(1)))
  }

  test("processing config has per-sample resolved blocks") {
    val cfg = result.processingConfig
    assert(cfg.contains("\"sample-s1\"") && cfg.contains("\"sample-s2\""))
    assert(cfg.contains("\"cellSizeDistribution\"") && cfg.contains("\"doubletScores\""))
    assert(cfg.contains("\"probabilityThreshold\""))
  }

  test("cell sets document: 12 ids per sample, metadata root present") {
    val json = result.cellSetsJson
    assert(json.contains("\"sample-s1\"") && json.contains("\"sample-s2\""))
    assert(json.contains("\"metadata-condition-ctrl\""))
    assert(json.contains("\"rootNode\":true"))
  }

  test("stage-4/5 TSV export suite matches the FIXTURES.md contracts") {
    val out = Files.createTempDirectory("ingest-tsv")
    Ingest.export(spark, result, out.toString)

    def lines(name: String): Seq[String] = {
      val dir = out.resolve(name).toFile
      assert(dir.isDirectory, s"$name missing")
      val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, s"$name must be a single file")
      scala.io.Source.fromFile(parts.head).getLines().toSeq
    }

    // samples-cells.csv: headerless cells_id \t sample, one row per cell
    val sc = lines("samples-cells.csv")
    assert(sc.length == 24)
    assert(sc.head == "0\ts1" && sc.last == "23\ts2")
    assert(sc.forall(_.split("\t").length == 2))

    // metadata-cells.csv: header cells_id \t condition
    val mc = lines("metadata-cells.csv")
    assert(mc.head == "cells_id\tcondition")
    assert(mc.length == 25)
    assert(mc.tail.forall(l => l.endsWith("ctrl") || l.endsWith("treat")))

    // r-out-cells.csv: one <sample>_<barcode> per line, cells_id order
    val rc = lines("r-out-cells.csv")
    assert(rc.length == 24)
    assert(rc.head == "s1_CELL000" && rc.last == "s2_CELL011")

    // r-out-annotations.csv: headerless input \t name \t original_name,
    // restricted to kept genes (ambient-only genes trimmed away keep 12+2)
    val ra = lines("r-out-annotations.csv")
    assert(ra.forall(_.split("\t").length == 3))
    val keptGenes = result.experiment.expr.select("gene").distinct().count()
    assert(ra.length == keptGenes)
    assert(ra.exists(_.startsWith("ENSG13\tMT-CO1")))

    // df_flag_filtered.txt: header + one Filtered/Unfiltered row per sample
    val ff = lines("df_flag_filtered.txt")
    assert(ff.head == "samples\tflag_filtered")
    assert(ff.tail == Seq("s1\tUnfiltered", "s2\tUnfiltered"))
  }

  test("export writes artifacts and yields a stable experiment id") {
    val out = Files.createTempDirectory("ingest-out")
    val id1 = Ingest.export(spark, result, out.toString)
    assert(id1.matches("[0-9a-f]{32}"))
    val id2 = Ingest.export(spark, result, out.toString)
    assert(id1 == id2)
    assert(Files.exists(out.resolve("processing_config.json")))
    assert(Files.exists(out.resolve("cell_sets.json")))
  }
}
