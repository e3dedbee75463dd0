package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

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

  /** One sample's rows: `nAmbient` barcodes of total 1-8 and `nCand`
    * ambient-like candidates of total 120-300, all drawn from one skewed
    * 20-gene profile, plus `nAlien` cells of genes the profile never
    * holds. */
  private def drawn(sample: String, nAmbient: Int, nCand: Int, nAlien: Int,
                    seed: Long): Seq[(String, String, String, Long)] = {
    val rng = new scala.util.Random(seed)
    val w = (1 to 20).map(g => 1.0 / g)
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    def barcode(name: String, total: Int) =
      Seq.fill(total)(cum.indexWhere(_ > rng.nextDouble()) match { case -1 => 19; case g => g })
        .groupBy(identity).toSeq.sortBy(_._1)
        .map { case (g, xs) => (sample, name, f"g$g%02d", xs.size.toLong) }
    (0 until nAmbient).flatMap(i => barcode(f"amb$i%03d", 1 + rng.nextInt(8))) ++
      (0 until nCand).flatMap(i => barcode(f"cand$i%02d", 120 + rng.nextInt(181))) ++
      (0 until nAlien).flatMap(i => (30 until 35).map(g => (sample, s"alien$i", s"g$g", 40L + i)))
  }

  /** s1 and s2 are scored; s3 has too few ambient barcodes and s4 only
    * ambient ones, so both are flagged. */
  private def multi(samples: String*): DataFrame = {
    val all = Map(
      "s1" -> drawn("s1", 80, 20, 3, 11L), "s2" -> drawn("s2", 60, 10, 2, 12L),
      "s3" -> drawn("s3", 20, 5, 1, 13L), "s4" -> drawn("s4", 70, 0, 0, 14L))
    samples.flatMap(all).toDF("sample", "barcode", "gene", "count")
  }

  private def byBarcode(df: DataFrame): Map[(String, String), Row] =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap

  test("one plan over all samples matches EmptyDropsReference") {
    val expr = multi("s1", "s2", "s3", "s4")
    val got = EmptyDrops.run(expr, lower = 100, nIters = 199)
    val want = EmptyDropsReference.run(expr, lower = 100, nIters = 199)
    assert(got.flagged == Seq("s3", "s4"))
    assert(want.flagged == got.flagged)
    val (g, w) = (byBarcode(got.scores), byBarcode(want.scores))
    assert(g.keySet == w.keySet && g.size == 35)
    val ps = g.values.map(_.getAs[Double]("emptyDrops_PValue"))
    assert(ps.count(p => p > 1.0 / 200 && p < 1.0) >= 20,
      s"too few p-values strictly inside (floor, 1): ${ps.toSeq.sorted}")
    for ((k, r) <- w; s = g(k)) {
      for (c <- Seq("emptyDrops_Total", "emptyDrops_PValue", "emptyDrops_Limited"))
        assert(s.getAs[Any](c) == r.getAs[Any](c), s"$k $c")
      val (lp, lpRef) = (s.getAs[Double]("emptyDrops_LogProb"), r.getAs[Double]("emptyDrops_LogProb"))
      assert(math.abs(lp - lpRef) <= 1e-9 * math.abs(lpRef), s"$k LogProb $lp vs $lpRef")
      val (fdr, fdrRef) = (s.getAs[Double]("emptyDrops_FDR"), r.getAs[Double]("emptyDrops_FDR"))
      assert(math.abs(fdr - fdrRef) <= 1e-12, s"$k FDR $fdr vs $fdrRef")
    }
  }

  test("p-values are bit-identical at 1, 4 and 7 shuffle partitions") {
    def at(n: Int) = {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toLong)
      try byBarcode(EmptyDrops.run(multi("s1", "s2", "s3"), lower = 100, nIters = 199).scores)
        .map { case (k, r) => k -> r.getAs[Double]("emptyDrops_PValue") }
      finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    val four = at(4)
    assert(four.size == 35)
    assert(at(1) == four)
    assert(at(7) == four)
  }

  test("run + count launches the same jobs on 1 sample and on 3, at most 16") {
    def jobs(samples: String*) =
      jobsDuring(EmptyDrops.run(multi(samples: _*), lower = 100, nIters = 99).scores.count())
    val (n1, one) = jobs("s1")
    val (n3, three) = jobs("s1", "s2", "s3")
    assert(n1 == 23 && n3 == 35)
    assert(one == three, s"1 sample: $one jobs, 3 samples: $three")
    assert(three <= 16, s"$three jobs")
  }
}
