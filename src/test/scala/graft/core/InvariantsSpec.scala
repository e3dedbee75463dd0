package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class InvariantsSpec extends SparkSpec {
  import spark.implicits._

  private val genes = Seq(("g1", "A"), ("g2", "B"), ("g3", "C")).toDF("input", "name")
  private val cells = Seq(
    ("s1", "c0", 100L, 10L, 1.0, 0.1, 0L),
    ("s1", "c1", 200L, 20L, 50.0, 0.2, 1L),
    ("s2", "c0", 300L, 30L, 0.0, 0.3, 2L))
    .toDF("sample", "barcode", "nCount", "nFeature", "percent_mt", "doublet_scores", "cells_id")
  private val expr = Seq(("s1", "c0", "g1", 4L), ("s1", "c1", "g2", 5L), ("s2", "c0", "g3", 6L))
    .toDF("sample", "barcode", "gene", "count")
  private val valid = Experiment(expr, cells, genes)

  test("a valid experiment has no violations") {
    assert(Invariants.check(valid).isEmpty)
  }

  test("too few genes") {
    assert(Invariants.check(valid, minGenes = 5) == Seq("gene table has 3 rows (< 5)"))
  }

  test("missing cell columns skip the cell checks") {
    val broken = cells.drop("percent_mt", "cells_id")
    assert(Invariants.check(valid.copy(cells = broken)) ==
      Seq("cells missing columns: percent_mt,cells_id"))
  }

  test("cells_id not dense") {
    val broken = cells.withColumn("cells_id", when(col("cells_id") === 1L, 2L)
      .otherwise(col("cells_id")))
    assert(Invariants.check(valid.copy(cells = broken)) ==
      Seq("cells_id not dense 0..2: min=0 max=2 distinct=2"))
  }

  test("percent_mt outside [0,100], NaN included and null not") {
    val broken = cells.unionByName(Seq(
        ("s3", "c0", 1L, 1L, -1.0, 0.0, 3L), ("s3", "c1", 1L, 1L, 100.5, 0.0, 4L),
        ("s3", "c2", 1L, 1L, Double.NaN, 0.0, 5L))
      .toDF("sample", "barcode", "nCount", "nFeature", "percent_mt", "doublet_scores", "cells_id"))
      .unionByName(cells.limit(1).select(lit("s4").as("sample"), col("barcode"),
        col("nCount"), col("nFeature"), lit(null).cast("double").as("percent_mt"),
        col("doublet_scores"), lit(6L).as("cells_id")))
    assert(Invariants.check(valid.copy(cells = broken)) ==
      Seq("3 cells with percent_mt outside [0,100]"))
  }

  test("duplicate gene names count the names, not the rows") {
    val broken = genes.unionByName(Seq(("g4", "A"), ("g5", "A"), ("g6", "B"))
      .toDF("input", "name"))
    assert(Invariants.check(valid.copy(genes = broken)) ==
      Seq("2 duplicate gene names after dedup-rename"))
    // without a name column only the input ids are checked
    assert(Invariants.check(valid.copy(genes = broken.select("input"))).isEmpty)
  }

  test("duplicate gene input ids") {
    val broken = genes.unionByName(Seq(("g1", "D")).toDF("input", "name"))
    assert(Invariants.check(valid.copy(genes = broken)) ==
      Seq("1 duplicate gene input ids"))
  }

  test("expr rows with an unknown gene, a null gene included") {
    val broken = expr.unionByName(Seq(("s1", "c0", "g9", 1L), ("s1", "c1", "g9", 1L))
      .toDF("sample", "barcode", "gene", "count"))
      .unionByName(expr.limit(1).withColumn("gene", lit(null).cast("string")))
    assert(Invariants.check(valid.copy(expr = broken)) ==
      Seq("3 expr rows with unknown gene"))
  }

  test("every violation at once, in check order") {
    val exp = Experiment(
      expr.unionByName(Seq(("s1", "c0", "g9", 1L)).toDF("sample", "barcode", "gene", "count")),
      cells.withColumn("cells_id", col("cells_id") + 1)
        .withColumn("percent_mt", col("percent_mt") - 10),
      genes.unionByName(Seq(("g1", "A")).toDF("input", "name")))
    assert(Invariants.check(exp, minGenes = 9) == Seq(
      "gene table has 4 rows (< 9)",
      "cells_id not dense 0..2: min=1 max=3 distinct=3",
      "2 cells with percent_mt outside [0,100]",
      "1 duplicate gene names after dedup-rename",
      "1 duplicate gene input ids",
      "1 expr rows with unknown gene"))
  }

  test("check launches 2 Spark jobs: one tally over the cells, one over the genes") {
    val (out, jobs) = jobsDuring(Invariants.check(valid))
    assert(out.isEmpty)
    assert(jobs == 2, s"check launched $jobs jobs")
  }
}
