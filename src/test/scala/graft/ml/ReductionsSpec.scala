package graft.ml

import graft.SparkSpec
import graft.qc.{DataIntegration, PipelineSpec}
import org.apache.spark.sql.DataFrame

/** `DataIntegration.run`, the one-task reduction kernel ([[Pca.reduce]]),
  * against the DataFrame chain it replaced ([[ReductionsReference]]),
  * on pathological inputs, across shuffle partitionings, and by its
  * job count. */
class ReductionsSpec extends SparkSpec {
  import spark.implicits._

  private def cellsOf(expr: DataFrame): DataFrame =
    graft.operators.MergeSamples.withCellsId(expr.select("sample", "barcode").distinct())

  private lazy val pipeline = PipelineSpec.rows.toDF("sample", "barcode", "gene", "count")

  /** `scripts/domain_soak.scala`'s real cells at `nReal` per sample, 2
    * samples: 200 genes each at 5-24 counts from a 20,000-gene
    * vocabulary, gene neighbourhoods keyed by `id·37 mod 7919`, and
    * every 25th cell also carrying the counts of the cell half a sample
    * away. */
  private def soakShaped(nReal: Int): DataFrame = {
    def cell(id: Int, off: Int) = (0 until 200).map { g =>
      f"G${((id * 37) % 7919 + g * 3 + off) % 20000}%05d" -> (5L + (id * 13 + g * 7) % 20)
    }
    Seq("s1" -> 0, "s2" -> 3).flatMap { case (name, off) =>
      (0 until nReal).flatMap { id =>
        val planted = if (id % 25 == 0) cell((id + nReal / 2) % nReal, off) else Nil
        (cell(id, off) ++ planted).groupMapReduce(_._1)(_._2)(_ + _).toSeq
          .map { case (gene, count) => (name, f"CELL$id%07d", gene, count) }
      }
    }.toDF("sample", "barcode", "gene", "count")
  }

  private def pcOf(pca: DataFrame): Map[Long, Array[Double]] =
    pca.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  /** The kernel's reductions against the reference's: the same HVGs
    * in the same ranks, with the same stats within 1e-9, variance
    * explained within 1e-9, and embeddings within 1e-6.
    *
    * Genes whose standardized variances are tied within 1e-9 (relative)
    * are ranked by the floating-point noise of each side's sums, so a
    * run of tied ranks is compared as a set; the gene after the last is
    * checked not to be tied with it, so the selected set is determined.
    * Likewise axes whose shares of the variance are tied within 1e-8
    * are compared as one block by the rows' Gram matrix,
    * which any rotation inside the block leaves alone; a lone axis is
    * compared coordinate by coordinate up to its sign, and the axis after the last is
    * checked not to be tied with it. */
  private def assertMatchesReference(expr: DataFrame, numHvg: Int, numPcs: Int): Unit = {
    val cells = cellsOf(expr).persist()
    val got = DataIntegration.run(expr, cells, numHvg, numPcs)
    val (refPca, refVarExp, refHvg) = ReductionsReference.run(expr, cells, numHvg, numPcs)
    def hvgRows(df: DataFrame) = df.orderBy("hvg_rank").collect()
      .map(r => (r.getString(0), Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)), r.getInt(4)))
    val (h, rh) = (hvgRows(got.hvg), hvgRows(refHvg))
    assert(h.map(_._3).toSeq == rh.map(_._3).toSeq)
    def tied(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.abs(a)
    val runs = rh.indices.foldLeft(List.empty[List[Int]]) {
      case (cur :: done, i) if tied(rh(cur.head)._2(2), rh(i)._2(2)) => (i :: cur) :: done
      case (acc, i) => List(i) :: acc
    }
    runs.foreach(run => assert(run.map(h(_)._1).toSet == run.map(rh(_)._1).toSet, s"ranks $run"))
    val stats = rh.map(r => r._1 -> r._2).toMap
    h.foreach { case (g, st, _) =>
      st.zip(stats(g)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$g: $st vs ${stats(g)}") }
    }
    val wider = DataIntegration.run(expr, cells, numHvg + 1, numPcs).hvg.orderBy("hvg_rank").collect()
    if (wider.length > h.length)
      assert(!tied(h.last._2(2), wider(h.length).getDouble(3)), "the last HVG is tied with the next")
    val varExp = got.varianceExplained
    assert(varExp.length == refVarExp.length)
    varExp.zip(refVarExp).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
    val tie = 1e-8
    val next = DataIntegration.run(expr, cells, numHvg, numPcs + 1).varianceExplained
    if (next.length > varExp.length && varExp.last > 1e-12)
      assert(varExp.last - next(varExp.length) > tie, s"the last compared axis is tied with the next: ${next.toSeq}")
    val (e, r) = (pcOf(got.pca), pcOf(refPca))
    assert(e.keySet == r.keySet && e.size == cells.count())
    val ids = e.keys.toArray.sorted
    val blocks = varExp.indices.foldLeft(List.empty[List[Int]]) {
      case (cur :: done, j) if varExp(cur.head) - varExp(j) <= tie => (j :: cur) :: done
      case (acc, j) => List(j) :: acc
    }.map(_.reverse).reverse
    blocks.foreach {
      // an axis of no variance is any direction the data does not span:
      // every cell sits at the same coordinate, on both sides
      case js if varExp(js.head) <= 1e-12 => for (p <- Seq(e, r); j <- js)
        assert(ids.forall(id => math.abs(p(id)(j) - p(ids.head)(j)) < 1e-6), s"pc $j varies")
      // a lone axis, up to its sign: each side signs it by its largest
      // component, and tied genes may be numbered apart on the two sides
      case List(j) =>
        val sign = math.signum(ids.map(id => e(id)(j) * r(id)(j)).sum)
        ids.foreach { id =>
          assert(math.abs(e(id)(j) - sign * r(id)(j)) < 1e-6, s"cell $id pc $j: ${e(id)(j)} vs ${r(id)(j)}")
        }
      case js =>
        def gram(p: Map[Long, Array[Double]], a: Long, b: Long) = js.map(j => p(a)(j) * p(b)(j)).sum
        for (a <- ids; b <- ids)
          assert(math.abs(gram(e, a, b) - gram(r, a, b)) < 1e-6, s"block $js cells $a, $b")
    }
    cells.unpersist()
  }

  test("run equals the DataFrame reference on the pipeline fixture") {
    // its 20 genes' standardized variances all tie at 1: every gene is
    // selected, in an order the noise of the sums decides
    assertMatchesReference(pipeline, numHvg = 20, numPcs = 5)
    assertMatchesReference(twoBatches, numHvg = 20, numPcs = 3)
  }

  test("run equals the DataFrame reference on a domain-soak-shaped sample") {
    val expr = soakShaped(150)
    assertMatchesReference(expr, numHvg = untiedCut(expr, 500), numPcs = 30)
  }

  /** The generator repeats its count patterns, so many genes tie: the
    * first HVG count from `from` on that does not cut a run of tied
    * standardized variances. */
  private def untiedCut(expr: DataFrame, from: Int): Int = {
    val v = DataIntegration.run(expr, cellsOf(expr), numHvg = 4 * from, numPcs = 1).hvg
      .orderBy("hvg_rank").collect().map(_.getDouble(3))
    (from until v.length).find(i => v(i - 1) - v(i) > 1e-9 * v(i - 1)).get
  }

  test("a cell whose genes all fall outside the HVG set gets the all-z0 row") {
    // x1 and x2 express only the 200 genes of the lowest standardized
    // variance among the half of the soak-shaped cells' genes with the
    // highest mean, at a typical normalized level
    val base = soakShaped(60)
    val table = DataIntegration.run(base, cellsOf(base), numHvg = 5000, numPcs = 2).hvg.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(3)))
    val low = table.sortBy(-_._2).take(table.length / 2).sortBy(_._3).take(200).map(_._1)
    val extra = low.indices.flatMap { i =>
      Seq(("s1", "x1", low(i), 14L), ("s1", "x2", low(i), 9L + 6 * (i % 2)))
    }.toDF("sample", "barcode", "gene", "count")
    val expr = base.unionByName(extra)
    val cells = cellsOf(expr)
    val numHvg = untiedCut(expr, 500)
    val red = DataIntegration.run(expr, cells, numHvg, numPcs = 10)
    assert(red.hvg.collect().map(_.getString(0)).intersect(low).isEmpty)
    val pc = pcOf(red.pca)
    val ids = cells.collect().map(r => r.getAs[String]("barcode") -> r.getAs[Long]("cells_id")).toMap
    assert(pc.size == 122)
    assert(pc(ids("x1")).length == 10 && pc(ids("x1")).forall(x => !x.isNaN))
    assert(pc(ids("x1")).toSeq == pc(ids("x2")).toSeq)
    assertMatchesReference(expr, numHvg, numPcs = 10)
  }

  test("a cell of cells without any row gets the all-z0 row; an empty experiment none") {
    val cells = cellsOf(pipeline).unionByName(Seq(("s1", "empty", 99L))
      .toDF("sample", "barcode", "cells_id"))
    val pc = pcOf(DataIntegration.run(pipeline, cells, numHvg = 16, numPcs = 5).pca)
    assert(pc.size == 25 && pc(99L).length == 5 && pc(99L).forall(x => !x.isNaN))
    // the moments count the empty cell: it is one of 25 cells
    val sansEmpty = pcOf(DataIntegration.run(pipeline, cellsOf(pipeline), numHvg = 16, numPcs = 5).pca)
    assert(sansEmpty(0L).toSeq != pc(0L).toSeq)
    val none = DataIntegration.run(pipeline.limit(0), cellsOf(pipeline).limit(0))
    assert(none.pca.count() == 0 && none.hvg.count() == 0 && none.varianceExplained.isEmpty)
  }

  test("a 1-cell experiment gets one empty row: no gene varies over one cell") {
    val one = pipeline.filter($"barcode" === "c00")
    val red = DataIntegration.run(one, cellsOf(one), numHvg = 20, numPcs = 5)
    assert(red.pca.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq == Seq((0L, Nil)))
    assert(red.hvg.count() == 0 && red.varianceExplained.isEmpty)
  }

  test("an experiment where no gene varies (d = 0) keeps every cell, with empty rows") {
    val flat = (0 until 5).flatMap(c => Seq(("s1", s"c$c", "g0", 3L), ("s1", s"c$c", "g1", 7L)))
      .toDF("sample", "barcode", "gene", "count")
    val red = DataIntegration.run(flat, cellsOf(flat), numHvg = 20, numPcs = 5)
    val rows = red.pca.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(rows.toSeq == (0L until 5L).map(_ -> Nil))
    assert(red.hvg.count() == 0 && red.varianceExplained.isEmpty)
  }

  test("numHvg past the gene count selects every gene that varies") {
    val red = DataIntegration.run(pipeline, cellsOf(pipeline), numHvg = 50, numPcs = 30)
    val hvg = red.hvg.orderBy("hvg_rank").collect()
    assert(hvg.map(_.getInt(4)).toSeq == (1 to 20))
    assert(red.varianceExplained.length == 20)
    assert(red.pca.collect().forall(r => r.getSeq[Double](1).length == 20))
    assertMatchesReference(pipeline, numHvg = 50, numPcs = 19)
  }

  private lazy val twoBatches = {
    val s2 = PipelineSpec.rows.map { case (_, b, g, c) => ("s2", b, g, c + 6) }
      .toDF("sample", "barcode", "gene", "count")
    pipeline.unionByName(s2)
  }

  test("run and runIntegrated are bit-identical at 1, 4 and 7 shuffle partitions") {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val cells = cellsOf(twoBatches).persist()
    def out(red: DataIntegration.Reductions) =
      (red.pca.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq,
        red.hvg.collect().toSeq, red.varianceExplained.toSeq)
    val runs = try {
      for (parts <- Seq("1", "4", "7")) yield {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val expr = twoBatches.repartition(parts.toInt)
        (out(DataIntegration.run(expr, cells, numHvg = 20, numPcs = 5)),
          out(DataIntegration.runIntegrated(expr, cells, numHvg = 20, numPcs = 5)))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    cells.unpersist()
    assert(runs.head._1._1.size == 48)
    assert(runs.forall(_ == runs.head))
  }

  test("run launches three Spark jobs, the join's two shuffles and the kernel's, and its frames none") {
    val cells = cellsOf(twoBatches).persist()
    cells.count()
    val (red, jobs) = jobsDuring(DataIntegration.run(twoBatches, cells, numHvg = 20, numPcs = 5))
    assert(jobs == 3, s"$jobs jobs")
    val (n, consumed) = jobsDuring(red.pca.collect().length + red.hvg.collect().length)
    assert(n == 48 + 20 && consumed == 0)
    cells.unpersist()
  }

  test("run builds its join's hash table from the cells: the rows are never broadcast") {
    // generated rows: the planner's size estimate is that of 40 ids
    import org.apache.spark.sql.functions._
    val generated = spark.range(40)
      .select(format_string("c%02d", col("id")).as("barcode"), col("id"),
        explode(sequence(lit(0L), lit(29L))).as("g"))
      .select(lit("s1").as("sample"), col("barcode"), format_string("g%02d", col("g")).as("gene"),
        ((col("id") * 7 + col("g") * 3) % 11 + 1).as("count"))
    val cells = cellsOf(generated).persist()
    cells.count()
    val (red, starts) = jobStartsDuring(DataIntegration.run(generated, cells, numHvg = 20, numPcs = 5))
    val scopes = starts.map(js => Option(js.properties).map(_.getProperty("spark.rdd.scope")).orNull)
    assert(!scopes.exists(s => s != null && s.contains("BroadcastExchange")), scopes)
    assert(red.pca.count() == 40)
    cells.unpersist()
  }

  test("an experiment past the task's share of the heap is refused by name") {
    // the executor's other kernel tasks hold all but 10 kB of the budget
    val others = budget - 10000L
    Gather.heldBytes.addAndGet(others)
    val refused = try scala.util.Try(DataIntegration.run(pipeline, cellsOf(pipeline), 20, 5))
      finally Gather.heldBytes.addAndGet(-others)
    val msg = refused.failed.get.getMessage
    assert(msg.contains("SampleTooLargeException") && msg.contains("dataIntegration of sample merged"), msg)
    // every task gives its count back when it ends
    awaitReleased()
  }

  private def awaitReleased(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (Gather.heldBytes.get != 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(Gather.heldBytes.get == 0)
  }

  /** The user-memory budget of this JVM at the session's
    * `spark.memory.fraction`. */
  private def budget: Long =
    Gather.budget(spark.sparkContext.getConf.getDouble("spark.memory.fraction", 0.6))

  test("a matrix counts its kernel's fixed cost only when drained") {
    // 3,000 genes, default numHvg: the covariance term alone is
    // 24·2000² = 96 MB, and the task may hold 20 MB
    val out = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
      val cost = new Gather.Cost {
        def step = "reduction"; def rowBytes = Pca.RowBytes; def memoryFraction = 0.6
        def taskBytes(c: Long, g: Long, n: Long) = Pca.taskBytes(c, g, n, 2000, 50)
      }
      val others = cost.budget - 20L * 1024 * 1024
      Gather.heldBytes.addAndGet(others)
      try {
        val m = new Gather.Matrix("m", cost)
        (0 until 30000).foreach(i => m.add(("m", s"c${i % 100}", s"g${i % 3000}", 1L)))
        val buffered = Gather.heldBytes.get - others
        (buffered, scala.util.Try(m.drain()).failed.toOption.map(_.getMessage))
      } finally Gather.heldBytes.addAndGet(-others)
    }.collect().head
    val (buffered, refusal) = out
    assert(buffered < 100L * 3100 + Pca.RowBytes * 30000 + 16L * 32768, s"$buffered bytes buffered")
    assert(refusal.exists(_.contains("reduction of sample m (100 cells, 30000 nonzeros)")), refusal)
    assert(refusal.exists(_.contains(s"~${Pca.taskBytes(100, 3000, 30000, 2000, 50)} bytes")), refusal)
    // the covariance term counts the genes there are, not numHvg
    assert(Pca.taskBytes(100, 3000, 30000, 100000, 50) == Pca.taskBytes(100, 3000, 30000, 3000, 50))
    awaitReleased()
  }

  test("run at the default 2,000 HVGs over 4 partitions fits where the final kernel fits") {
    // the join's 4 output partitions each build a partial matrix; the
    // other kernel tasks leave room for the drained matrix's estimate
    // and no more
    val expr = soakShaped(60)
    val cells = cellsOf(expr).persist()
    val (nCells, nGenes, nnz) = (cells.count(), expr.select("gene").distinct().count(), expr.count())
    assert(nGenes > 2000, s"$nGenes genes")
    val need = Pca.taskBytes(nCells, nGenes, nnz, 2000, 50)
    val others = budget - need
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = conf.map(spark.conf.get)
    spark.conf.set(conf(0), "4"); spark.conf.set(conf(1), "false")
    Gather.heldBytes.addAndGet(others)
    val red = try DataIntegration.run(expr, cells)
      finally {
        Gather.heldBytes.addAndGet(-others)
        conf.zip(saved).foreach { case (k, v) => spark.conf.set(k, v) }
      }
    assert(red.pca.count() == nCells && red.hvg.count() == 2000)
    cells.unpersist()
    awaitReleased()
  }
}
