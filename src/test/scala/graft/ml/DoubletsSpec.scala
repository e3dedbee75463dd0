package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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

  /** The local two-round scheme over a feature table in
    * `FeaturizeReference`'s shape: barcode → score per real cell. */
  private def localScores(feats: DataFrame): Map[String, Double] =
    Doublets.twoRound(feats.select("cells_id", "barcode", "is_art", "features")
      .collect().sortBy(_.getLong(0)).map { r =>
        val (b, art) = (r.getString(1), r.getBoolean(2))
        (r.getLong(0), b, art,
          if (art) -1 else java.lang.Math.floorMod(Doublets.xxhash64(b, 123L), 3),
          r.getSeq[Double](3).toArray)
      }).toMap

  /** Spark ML reference vs the local learner on one feature table:
    * max |Δp| ≤ 1e-3, identical classes, ≥ 90% bit-identical. */
  private def assertMatchesReference(feats: DataFrame): Unit = {
    val ref = GbtReference.classify(feats, seed = 123L)
    val local = localScores(feats)
    assert(local.keySet == ref.keySet)
    val deltas = local.map { case (b, p) => math.abs(p - ref(b)) }
    assert(deltas.max <= 1e-3, s"max |dp| ${deltas.max}")
    assert(local.forall { case (b, p) => (p >= 0.5) == (ref(b) >= 0.5) })
    val same = local.count { case (b, p) => p == ref(b) }
    assert(same >= 0.9 * local.size, s"bit-identical on $same of ${local.size}")
  }

  test("local boosted trees match Spark ML GBTClassifier on the fixture's features") {
    val feats = FeaturizeReference.featurize(fixture, "s1", k = 10, numHvg = 16,
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
    val (ref, featJobs) = jobsDuring(FeaturizeReference.featurize(fixture, "s1", k = 10,
      numHvg = 16, numPcs = 5, seed = 123L).get)
    ref.unpersist()
    val (_, scoreJobs) = jobsDuring(Doublets.scores(fixture, k = 10, numHvg = 16, numPcs = 5))
    assert(scoreJobs == 1, s"scores launched $scoreJobs jobs")
    assert(scoreJobs <= featJobs + 2,
      s"scores launched $scoreJobs jobs; the reference featurize alone $featJobs")
  }

  test("scores launches at most 2 Spark jobs on a 2-sample frame") {
    val twoSamples = fixture.unionByName(fixture.withColumn("sample", lit("s2")))
    val (res, jobs) = jobsDuring(Doublets.scores(twoSamples, k = 10, numHvg = 16, numPcs = 5))
    assert(jobs <= 2, s"scores launched $jobs jobs")
    assert(res.count() == 126)
  }

  // ---- adversarial classifier inputs -----------------------------------

  /** A persisted feature table in `FeaturizeReference`'s shape. */
  private def featureTable(rows: Seq[(Long, String, Boolean, Array[Double])]) =
    rows.map { case (id, b, art, x) => (id, b, art, x.toSeq) }
      .toDF("cells_id", "barcode", "is_art", "features").cache()

  /** `n` barcodes whose round-1 fold (`xxhash64(barcode, 123) pmod 3`)
    * is `fold`. */
  private def barcodesInFold(fold: Int, n: Int, prefix: String): Seq[String] = {
    spark.range(0, 40L * n).select(concat(lit(prefix), col("id").cast("string")).as("b"))
      .filter(pmod(xxhash64(col("b"), lit(123L)), lit(3)) === fold)
      .orderBy("b").limit(n).collect().map(_.getString(0)).toSeq
  }

  /** Runs the local scheme twice on fresh copies of the table: scores
    * in [0, 1], equal across the calls; returns barcode → score. */
  private def classifiedTwice(rows: Seq[(Long, String, Boolean, Array[Double])]) = {
    def once() = localScores(featureTable(rows))
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

  // ---- the one-task kernel against the distributed reference -----------

  /** Benchmark-shaped sample: 200 cells, each expressing 120-259 genes
    * of one of 8 programs of 300 genes drawn from a 2,000-gene
    * vocabulary (counts 2-11), plus 2-4 of 13 MT genes (counts 1-5). */
  private def benchmarkShaped(seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val programs = Seq.fill(8)(rnd.shuffle((13 until 2000).toVector).take(300))
    (0 until 200).flatMap { i =>
      val genes = rnd.shuffle(programs(rnd.nextInt(8))).take(120 + rnd.nextInt(140)) ++
        rnd.shuffle((0 until 13).toVector).take(2 + rnd.nextInt(3))
      genes.map(g => ("s1", f"CELL$i%06d", f"Gene$g%04d",
        (if (g < 13) 1 + rnd.nextInt(5) else 2 + rnd.nextInt(10)).toLong))
    }.toDF("sample", "barcode", "gene", "count")
  }

  private def matrixOf(expr: DataFrame): Doublets.SampleMatrix =
    expr.select("sample", "barcode", "gene", "count").as[(String, String, String, Long)]
      .collect().foldLeft(new Doublets.SampleMatrix("s1", Doublets.Sizing(20, 500, 10, 0.6)))(_ add _)

  /** The 7 features of every cell of `FeaturizeReference`'s table, from
    * the exact kNN over the table's own `pc` embedding (rows in
    * `cells_id` order): the oracle for the kernel's steps 4-5, with the
    * reference's steps 1-3. */
  private def exactFeatures(ref: DataFrame, k: Int): Array[Doublets.Cell] = {
    val rows = ref.select("cells_id", "barcode", "is_art", "pc", "log_lib", "log_nfeat")
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == rows.indices.map(_.toLong))
    val isArt = rows.map(_.getBoolean(2))
    val kInner = math.max(1, k / 2)
    val nbrs = KdTreeSpec.scanNearest(rows.map(_.getSeq[Double](3).toArray), k)
    rows.indices.map { i =>
      val ranked = nbrs(i).map { case (s, j) => (math.sqrt(s), isArt(j)) }
      val r = ranked.length
      val weights = ranked.map { case (d, _) => 1.0 / (1.0 + d) }
      val arts = ranked.count(_._2)
      val features = Array(
        arts.toDouble / r,
        ranked.take(kInner).count(_._2).toDouble / math.max(math.min(r, kInner), 1),
        if (arts == 0) 0.0
        else ranked.indices.filter(ranked(_)._2).map(weights).sum / weights.sum,
        (ranked.indexWhere(_._2) match { case -1 => k + 1; case at => at + 1 }).toDouble,
        ranked.map(_._1).sum / r,
        rows(i).getDouble(4), rows(i).getDouble(5))
      val b = rows(i).getString(1)
      (i.toLong, b, isArt(i),
        if (isArt(i)) -1 else java.lang.Math.floorMod(Doublets.xxhash64(b, 123L), 3), features)
    }.toArray
  }

  /** The kernel against `FeaturizeReference` on one sample: every cell
    * has the reference's cells_id and artificial flag, and its 7
    * features equal, within 1e-6, the exact kNN's over the reference's
    * embedding ([[exactFeatures]]). The scores equal, within 1e-3 and
    * with the same class, the two-round scheme over those features. */
  private def assertMatchesFeaturizeReference(expr: DataFrame, k: Int, numHvg: Int,
                                              numPcs: Int): Unit = {
    val ref = FeaturizeReference.featurize(expr, "s1", k, numHvg, numPcs, seed = 123L).get
    val oracle = exactFeatures(ref, k)
    ref.unpersist()
    val local = Doublets.featurize(matrixOf(expr), k, numHvg, numPcs, 123L).get
    assert(local.map(c => (c._1, c._2, c._3, c._4)).toSeq ==
      oracle.map(c => (c._1, c._2, c._3, c._4)).toSeq)
    local.zip(oracle).foreach { case (c, o) =>
      val worst = c._5.indices.map(f => math.abs(c._5(f) - o._5(f))).max
      assert(worst <= 1e-6, s"${c._2}: features ${c._5.toSeq} vs exact ${o._5.toSeq}")
    }
    val scores = Doublets.scores(expr, k, numHvg, numPcs).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    val refScores = Doublets.twoRound(oracle).toMap
    assert(scores.keySet == refScores.keySet)
    val deltas = scores.map { case (b, p) => math.abs(p - refScores(b)) }
    assert(deltas.max <= 1e-3, s"max |dp| ${deltas.max}")
    assert(scores.forall { case (b, p) => (p >= 0.5) == (refScores(b) >= 0.5) })
  }

  test("featurize matches FeaturizeReference on the fixture") {
    assertMatchesFeaturizeReference(fixture, k = 10, numHvg = 16, numPcs = 5)
  }

  test("featurize matches FeaturizeReference on a seeded benchmark-shaped sample") {
    assertMatchesFeaturizeReference(benchmarkShaped(901L), k = 20, numHvg = 500, numPcs = 10)
  }

  test("scores are bit-identical from 1 input partition or 7") {
    val expr = benchmarkShaped(902L).unionByName(fixture.withColumn("sample", lit("s2")))
    def scored(parts: Int) = Doublets.scores(expr.repartition(parts)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    val one = scored(1)
    assert(one.size == 263)
    assert(scored(7) == one)
  }

  test("an isolated cell gets its k exact neighbours") {
    // 30 points on a line and one far off it: the far point's
    // neighbours are the line's last 5, in order; ties go to the lower id
    val emb = ((0 until 30).map(i => Array(i.toDouble, 0.0)) :+ Array(29.0, 1000.0)).toArray
    val (nbr, dist) = KdTree.nearest(emb, 5)
    assert(nbr(30).toSeq == Seq(29, 28, 27, 26, 25))
    assert(dist(30).toSeq == Seq(0, 1, 2, 3, 4).map(d => math.sqrt(d * d + 1e6)))
    assert(nbr(10).toSeq == Seq(9, 11, 8, 12, 7))
    assert(nbr(0).toSeq == Seq(1, 2, 3, 4, 5))
    // fewer rows than k + 1: every other row, nearest first
    assert(KdTree.nearest(emb.take(3), 5)._1.map(_.toSeq).toSeq ==
      Seq(Seq(1, 2), Seq(0, 2), Seq(1, 0)))
    // a cell expressing genes no other cell has: all k neighbours, the
    // largest mean distance of the sample
    val iso = fixture.unionByName(
      (0 until 8).map(g => ("s1", "iso", s"gC$g", 30L)).toDF("sample", "barcode", "gene", "count"))
    val cells = Doublets.featurize(matrixOf(iso), 10, 24, 5, 123L).get
    val meanDist = cells.map(c => c._2 -> c._5(4)).toMap
    assert(meanDist("iso") > meanDist.removed("iso").values.max)
  }

  test("checkMemory refuses a sample past its limit, naming it") {
    val need = Doublets.taskBytes(200, 3000, 40000, 500, 10, 20)
    Doublets.checkMemory("s1", 200, 40000, need, need)
    val e = intercept[Doublets.SampleTooLargeException](
      Doublets.checkMemory("s1", 200, 40000, need, need - 1))
    assert(e.isInstanceOf[IllegalStateException])
    Seq("sample s1", "200 cells", "40000 nonzeros", s"~$need bytes", s"${need - 1}-byte")
      .foreach(x => assert(e.getMessage.contains(x), e.getMessage))
  }

  test("a sample is refused while its rows are buffered, within what other tasks leave") {
    // inside a task, with the executor's other doublet tasks holding
    // all but 8 MB of the budget: the refusal comes as the row buffer
    // grows, long before a million rows are held, and the task's count
    // is given back when it ends
    val (refused, added) = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
      val sizing = Doublets.Sizing(20, 16, 5, 0.6)
      val others = sizing.budget - 8L * 1024 * 1024
      Doublets.heldBytes.addAndGet(others)
      val m = new Doublets.SampleMatrix("big", sizing)
      var added = 0
      try {
        (0 until 1000000).foreach { i => m.add(("big", s"c${i / 100}", s"g${i % 100}", 1L)); added += 1 }
        ("", added)
      } catch { case e: Doublets.SampleTooLargeException => (e.getMessage, added) }
      finally Doublets.heldBytes.addAndGet(-others)
    }.collect().head
    assert(refused.contains("sample big"), refused)
    assert(added < 200000, s"$added rows buffered before the refusal")
    assert(Doublets.heldBytes.get == 0)
  }

  test("the pairing and fold hashes are Spark's xxhash64(barcode, lit(v))") {
    val barcodes = Seq("a", "CELL000001", "", "\u00fcn\u00efcode", "__art_000001", "\uD83D\uDE00x")
    val v = 123L ^ "s1".hashCode.toLong
    val viaSpark = barcodes.toDF("b")
      .select(col("b"), xxhash64(col("b"), lit(v)), xxhash64(col("b"), lit(123L))).collect()
    viaSpark.foreach { r =>
      assert(Doublets.xxhash64(r.getString(0), v) == r.getLong(1), r.getString(0))
      assert(Doublets.xxhash64(r.getString(0), 123L) == r.getLong(2), r.getString(0))
    }
  }
}
