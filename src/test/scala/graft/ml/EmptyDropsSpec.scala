package graft.ml

import graft.SparkSpec

class EmptyDropsSpec extends SparkSpec {
  import spark.implicits._

  // 60 ambient barcodes (total 4 <= lower) with profile g1:g2:g3 = 2:1:1,
  // one ambient-like candidate and one wildly non-ambient candidate.
  private def fixture = {
    val ambient = (0 until 60).flatMap { i =>
      Seq(("s1", f"amb$i%02d", "g1", 2L), ("s1", f"amb$i%02d", "g2", 1L),
        ("s1", f"amb$i%02d", "g3", 1L))
    }
    val emptyLike = Seq(("s1", "emptyX", "g1", 100L), ("s1", "emptyX", "g2", 50L),
      ("s1", "emptyX", "g3", 50L))
    val cell = Seq(("s1", "cellA", "g4", 200L))
    (ambient ++ emptyLike ++ cell).toDF("sample", "barcode", "gene", "count")
  }

  test("ambient-like barcode scores high p, alien barcode low p with FDR") {
    val res = EmptyDrops.run(fixture, lower = 100, nIters = 199)
    assert(res.flagged.isEmpty)
    val rows = res.scores.collect()
      .map(r => r.getAs[String]("barcode") -> r).toMap
    assert(rows.keySet == Set("emptyX", "cellA"))
    val pEmpty = rows("emptyX").getAs[Double]("emptyDrops_PValue")
    val pCell = rows("cellA").getAs[Double]("emptyDrops_PValue")
    assert(pCell == 1.0 / 200, s"alien barcode should hit the MC floor, got $pCell")
    assert(rows("cellA").getAs[Boolean]("emptyDrops_Limited"))
    assert(pEmpty > 0.2, s"ambient-like p too small: $pEmpty")
    val fdrCell = rows("cellA").getAs[Double]("emptyDrops_FDR")
    assert(fdrCell < 0.05)
    assert(rows("emptyX").getAs[Long]("emptyDrops_Total") == 200L)
  }

  test("sample with too few ambient barcodes is flagged and skipped") {
    val tiny = Seq(
      ("s2", "a1", "g1", 5L), ("s2", "a2", "g1", 6L),
      ("s2", "big", "g1", 500L),
    ).toDF("sample", "barcode", "gene", "count")
    val res = EmptyDrops.run(tiny, lower = 100, nIters = 50)
    assert(res.flagged == Seq("s2"))
    assert(res.scores.isEmpty || res.scores.count() == 0)
    // no rows, but a scored run's columns and types
    def cols(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(cols(res.scores) == cols(EmptyDrops.run(fixture, lower = 100, nIters = 9).scores))
  }

  test("deterministic across invocations (seeded per sample/run)") {
    val a = EmptyDrops.run(fixture, lower = 100, nIters = 99)
      .scores.collect().map(r => (r.getString(1), r.getAs[Double]("emptyDrops_PValue"))).toMap
    val b = EmptyDrops.run(fixture, lower = 100, nIters = 99)
      .scores.collect().map(r => (r.getString(1), r.getAs[Double]("emptyDrops_PValue"))).toMap
    assert(a == b)
  }
}
