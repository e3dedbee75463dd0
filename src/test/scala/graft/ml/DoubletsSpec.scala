package graft.ml

import graft.SparkSpec

class DoubletsSpec extends SparkSpec {
  import spark.implicits._

  /** Two well-separated expression clusters + 3 planted doublets that
    * are true mixtures: the SUM of an A-profile and a B-profile, so
    * they carry both the mixed program AND the ~2x library a real
    * doublet has. Cross-cluster artificial doublets land where the
    * planted cells live, so their neighborhoods are artificial-enriched
    * and the classifier sees both of its signals. */
  private def fixture = {
    val clusterA = (0 until 30).flatMap { i =>
      (0 until 8).map(g => ("s1", f"a$i%02d", s"gA$g", 20L + (i % 3)))
    }
    val clusterB = (0 until 30).flatMap { i =>
      (0 until 8).map(g => ("s1", f"b$i%02d", s"gB$g", 20L + (i % 3)))
    }
    val planted = (0 until 3).flatMap { i =>
      (0 until 8).map(g => ("s1", s"dbl$i", s"gA$g", 20L + i)) ++
        (0 until 8).map(g => ("s1", s"dbl$i", s"gB$g", 20L + i))
    }
    (clusterA ++ clusterB ++ planted).toDF("sample", "barcode", "gene", "count")
  }

  test("planted doublets score higher than cluster members") {
    val res = Doublets.scores(fixture, k = 10, numHvg = 16, numPcs = 5)
      .collect().map(r => r.getAs[String]("barcode") ->
        ((r.getAs[Double]("doublet_scores"), r.getAs[String]("doublet_class")))).toMap
    assert(res.size == 63)
    val planted = res.filter(_._1.startsWith("dbl")).values.map(_._1)
    val members = res.filter(k => k._1.startsWith("a") || k._1.startsWith("b")).values.map(_._1)
    assert(planted.min > members.sum / members.size,
      s"planted min ${planted.min} vs member mean ${members.sum / members.size}")
    assert(res("dbl0")._2 == "doublet")
    res.values.foreach { case (s, c) =>
      assert(s >= 0.0 && s <= 1.0 && (c == "singlet" || c == "doublet"))
    }
  }

  test("deterministic across invocations") {
    val a = Doublets.scores(fixture, k = 10, numHvg = 16, numPcs = 5)
      .collect().map(r => (r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    val b = Doublets.scores(fixture, k = 10, numHvg = 16, numPcs = 5)
      .collect().map(r => (r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(a == b)
  }

  // ---- the local learner against Spark ML --------------------------

  /** Spark ML reference vs the local learner on one feature table:
    * max |Δp| ≤ 1e-3, identical classes, ≥ 90% bit-identical. */
  private def assertMatchesReference(feats: org.apache.spark.sql.DataFrame): Unit = {
    val ref = GbtReference.classify(feats, seed = 123L)
    val local = Doublets.classify(feats, "s1", 123L, 0.5).collect()
      .map(r => r.getAs[String]("barcode") -> r.getAs[Double]("doublet_scores")).toMap
    assert(local.keySet == ref.keySet)
    val deltas = local.map { case (b, p) => math.abs(p - ref(b)) }
    assert(deltas.max <= 1e-3, s"max |dp| ${deltas.max}")
    assert(local.forall { case (b, p) => (p >= 0.5) == (ref(b) >= 0.5) })
    val same = local.count { case (b, p) => p == ref(b) }
    assert(same >= 0.9 * local.size, s"bit-identical on $same of ${local.size}")
  }

  test("local boosted trees match Spark ML GBTClassifier on the fixture's features") {
    val feats = Doublets.featurize(fixture, "s1", k = 10, numHvg = 16,
      numPcs = 5, seed = 123L).get
    assertMatchesReference(feats)
  }

  test("local boosted trees match Spark ML GBTClassifier on a seeded 300x7 table") {
    // 200 real + 100 artificial cells; the features mix tied grid
    // values (fractions of k, neighbor ranks) with continuous ones, and
    // the artificial class is shifted, so the trees split for real
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 300).map { i =>
      val art = i % 3 == 2
      val shift = if (art) 0.25 else 0.0
      val x = Array(
        math.min(1.0, (rnd.nextInt(21) / 20.0) * 0.7 + shift),
        math.min(1.0, (rnd.nextInt(11) / 10.0) * 0.7 + shift),
        math.min(1.0, rnd.nextDouble() * 0.8 + shift),
        (1 + rnd.nextInt(if (art) 8 else 21)).toDouble,
        rnd.nextGaussian() * 0.3 + 2.0 - shift,
        math.log1p(200 + rnd.nextInt(200) * (if (art) 2 else 1)),
        math.log1p(40 + rnd.nextInt(30)))
      (i.toLong, f"c$i%03d", art, x)
    }
    assertMatchesReference(featureTable(rows))
  }

  // ---- job counts -----------------------------------------------------

  test("classify launches one Spark job per sample; scores stays within featurize + 2") {
    val (feats, featJobs) = jobsDuring(Doublets.featurize(fixture, "s1", k = 10,
      numHvg = 16, numPcs = 5, seed = 123L).get)
    val (_, classifyJobs) = jobsDuring(Doublets.classify(feats, "s1", 123L, 0.5))
    assert(classifyJobs == 1, s"classify launched $classifyJobs jobs")
    val (_, scoreJobs) = jobsDuring(Doublets.scores(fixture, k = 10, numHvg = 16, numPcs = 5))
    assert(scoreJobs <= featJobs + 2,
      s"scores launched $scoreJobs jobs; featurize alone $featJobs")
  }

  // ---- adversarial classifier inputs -----------------------------------

  /** A persisted feature table in `featurize`'s shape. */
  private def featureTable(rows: Seq[(Long, String, Boolean, Array[Double])]) =
    rows.map { case (id, b, art, x) => (id, b, art, x.toSeq) }
      .toDF("cells_id", "barcode", "is_art", "features").cache()

  /** `n` barcodes whose round-1 fold (`xxhash64(barcode, 123) pmod 3`)
    * is `fold`. */
  private def barcodesInFold(fold: Int, n: Int, prefix: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    spark.range(0, 40L * n).select(concat(lit(prefix), col("id").cast("string")).as("b"))
      .filter(pmod(xxhash64(col("b"), lit(123L)), lit(3)) === fold)
      .orderBy("b").limit(n).collect().map(_.getString(0)).toSeq
  }

  /** Runs classify twice on fresh copies of the table: scores in [0, 1],
    * equal across the calls; returns barcode → score. */
  private def classifiedTwice(rows: Seq[(Long, String, Boolean, Array[Double])]) = {
    def once() = Doublets.classify(featureTable(rows), "s1", 123L, 0.5).collect()
      .map(r => r.getAs[String]("barcode") -> r.getAs[Double]("doublet_scores")).toMap
    val (a, b) = (once(), once())
    assert(a == b)
    assert(a.keySet == rows.filterNot(_._3).map(_._2).toSet)
    assert(a.values.forall(p => p >= 0.0 && p <= 1.0), a)
    a
  }

  test("classify on all-constant features: no split candidate, one flat score") {
    val x = Array(0.5, 0.5, 0.5, 3.0, 1.0, 5.0, 3.0)
    val rows = (0 until 30).map(i => (i.toLong, f"c$i%02d", i >= 20, x))
    val scores = classifiedTwice(rows)
    assert(scores.values.toSet.size == 1, scores)
  }

  test("classify with every real cell hashed into one fold scores in-sample") {
    val real = barcodesInFold(0, 20, "r")
    val rows = real.zipWithIndex.map { case (b, i) =>
      (i.toLong, b, false, Array.tabulate(7)(f => ((i * (f + 3)) % 11).toDouble))
    } ++ (0 until 10).map(i =>
      ((100 + i).toLong, s"__art_$i", true, Array.tabulate(7)(f => ((i * (f + 5)) % 13 + 4).toDouble)))
    classifiedTwice(rows)
  }

  test("classify on flat round-1 scores keeps round 1 (the exclusion leaves no real cell)") {
    // two real cells per fold at one feature point, so all three fold
    // models train on the same data and every real cell gets one score
    val real = (0 until 3).flatMap(f => barcodesInFold(f, 2, s"f$f"))
    val rows = real.zipWithIndex.map { case (b, i) =>
      (i.toLong, b, false, Array(0.1, 0.1, 0.1, 9.0, 1.0, 5.0, 3.0))
    } ++ (0 until 12).map(i =>
      ((100 + i).toLong, s"__art_$i", true, Array(0.9, 0.9, 0.9, 1.0, 0.5, 6.0, 3.5)))
    val scores = classifiedTwice(rows)
    assert(scores.values.toSet.size == 1, scores)
  }

  test("a 2-cell sample scores without error") {
    val expr = Seq(("s1", "c0", "g0", 5L), ("s1", "c0", "g1", 3L),
      ("s1", "c1", "g1", 4L), ("s1", "c1", "g2", 2L))
      .toDF("sample", "barcode", "gene", "count")
    def once() = Doublets.scores(expr, k = 10, numHvg = 16, numPcs = 5)
      .collect().map(r => (r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    val a = once()
    assert(a.map(_._1) == Seq("c0", "c1"))
    assert(a.forall(p => p._2 >= 0.0 && p._2 <= 1.0), a)
    assert(once() == a)
  }

  test("a 2-sample frame with one degenerate sample scores both") {
    val expr = fixture.unionByName(Seq(("s2", "lone", "gA0", 9L))
      .toDF("sample", "barcode", "gene", "count"))
    def once() = Doublets.scores(expr, k = 10, numHvg = 16, numPcs = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sortBy(r => (r._1, r._2)).toSeq
    val a = once()
    assert(a.count(_._1 == "s1") == 63)
    assert(a.filter(_._1 == "s2") == Seq(("s2", "lone", 0.0)))
    assert(a.forall(p => p._3 >= 0.0 && p._3 <= 1.0))
    assert(once() == a)
  }
}
