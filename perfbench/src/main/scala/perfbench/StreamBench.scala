package perfbench

import graft.operators.TextQueries
import graft.streaming.DocStream
import graft.streaming.DocStream.Doc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `stream`: one operation is one fixed-size micro-batch of documents
  * through `DocStream.deltaDedupStream` against a standing
  * `TextQueries.DedupIndex` built from the generated corpus. Items are
  * documents. */
object StreamBench {

  // batch walls fall steeply over the first ten batches (JIT, codegen
  // caches, state store filling up to its watermark-bounded size)
  private val WarmBatches = 10
  private val TracedBatches = 8

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one data batch per trigger and no trailing no-data batch: each
    // operation is exactly one micro-batch, and the watermark that the
    // previous batch advanced evicts state inside the next one
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val corpus = spark.read.parquet(s"${ctx.inputs}/corpus.parquet")
    val batches = spark.read.parquet(s"${ctx.inputs}/delta.parquet")
      .select("batch", "ts", "doc_id", "text").as[(Int, java.sql.Timestamp, Long, String)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._3).map(r => Doc(r._2, r._3, r._4)).toSeq }

    val tracer = if (ctx.trace) Some(new Tracer(spark, ctx.cores)) else None
    val (index, setupS) = ctx.timed {
      val build = () => {
        val ix = TextQueries.buildDedupIndex(corpus)
        ix.fp.count(); ix.bands.count() // built once, up front
        ix
      }
      tracer.fold(build())(_.span("operators.buildDedupIndex", "setup")(build()))
    }
    // untraced batches must not reach the listener: detach once every
    // event of the traced work has been delivered
    tracer.foreach { t => t.listener.quiesce(); t.detach() }

    val mem = MemoryStream[Doc]
    val q = DocStream.deltaDedupStream(mem.toDF(), index)
      .writeStream.format("memory").queryName("perfbench_delta").outputMode("append").start()
    var fed = 0
    def feed(): Long = {
      val b = batches(fed)
      fed += 1
      mem.addData(b)
      q.processAllAvailable()
      b.size.toLong
    }
    try {
      val (_, warmS) = ctx.timed((0 until WarmBatches).foreach(_ => feed()))
      val left = batches.size - WarmBatches
      var ops =
        if (ctx.trace) Seq.empty[Op]
        else ctx.closedLoop(i => s"batch${WarmBatches + i}", maxOps = left)(_ => feed())

      var layers = Map.empty[String, Double]
      var spans = Seq.empty[Map[String, Any]]
      tracer.foreach { t =>
        // traced and untraced batches alternate, so the tracing overhead
        // is not confounded with the batches' warm-up trend
        val busy0 = t.listener.busyNs.get
        val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Op]
        val tracedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
        for (_ <- 0 until TracedBatches if fed + 2 <= batches.size) {
          plain ++= ctx.closedLoop(_ => s"batch$fed", maxOps = 1)(_ => feed())
          t.attach()
          traced ++= ctx.closedLoop(_ => s"batch$fed", maxOps = 1) { _ =>
            t.span("streaming.deltaDedup", s"batch$fed")(feed())
          }
          t.listener.quiesce()
          t.detach()
          tracedIds += fed - 1 // one micro-batch per operation, ids from 0
        }
        // per-batch engine phases and state size, from the query's progress
        val deadline = System.nanoTime() + 5_000_000_000L
        def byId = q.recentProgress.map(p => p.batchId -> p).toMap
        while (!tracedIds.forall(byId.contains) && System.nanoTime() < deadline) Thread.sleep(50)
        val progress = byId
        val (ixSpans, batchSpans) = t.all.partition(_.name == "operators.buildDedupIndex")
        spans = ixSpans.map(t.record) ++ batchSpans.zip(tracedIds).map { case (sp, id) =>
          val p = progress(id)
          def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
          val st = p.stateOperators
          t.record(sp) ++ Map(
            "queryPlanning_s" -> d("queryPlanning"), "addBatch_s" -> d("addBatch"),
            "walCommit_s" -> d("walCommit"),
            "state_rows" -> st.map(_.numRowsTotal).sum.toDouble,
            "state_mb" -> st.map(_.memoryUsedBytes).sum / 1e6,
            "rows_removed" -> st.map(_.numRowsRemoved).sum.toDouble,
            "input_rows" -> p.numInputRows)
        }
        val c = t.listener.of(q.runId.toString)
        ops = plain.toSeq
        def med(s: Seq[Op]) = { val w = s.map(_.wallS).sorted; if (w.isEmpty) Double.NaN else w(w.size / 2) }
        layers = Map(
          "streaming.deltaDedup.jobs_per_batch" -> c.jobs.get.toDouble / math.max(1, traced.size),
          "streaming.deltaDedup.task_s_per_batch" -> c.taskMs.get / 1e3 / math.max(1, traced.size),
          "trace_overhead_s" -> (med(traced.toSeq) - med(plain.toSeq)),
          "trace_listener_s" -> (t.listener.busyNs.get - busy0) / 1e9 / math.max(1, traced.size))
      }

      // outputs checked against the batch operator over the same corpus
      // and every document fed, outside the timed region
      q.processAllAvailable()
      val streamed = spark.table("perfbench_delta").select("doc_id", "status", "dup_of")
        .as[(Long, String, Option[Long])].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val fedDocs = batches.take(fed).flatten
      val batch = TextQueries.deltaDedupAgainst(index, fedDocs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
        .select("doc_id", "status", "dup_of").as[(Long, String, Option[Long])]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      val stateRows = Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      val newRows = streamed.values.count(_._1 == "new")
      val checks = Map(
        "every_doc_emitted_once" -> (streamed.size == fedDocs.size),
        "stream_equals_batch_dedup" -> (streamed == batch),
        "planted_classes_seen" -> Set("exact_dup_corpus", "exact_dup_delta", "near_dup_corpus", "new")
          .subsetOf(streamed.values.map(_._1).toSet),
        // after a dozen batches the watermark must have evicted state:
        // fewer state rows than corpus-unknown documents seen
        "state_evicted" -> (fed < 12 || (stateRows >= 0 && stateRows < newRows)))
      val notes = Map[String, Any]("batches_fed" -> fed, "docs_fed" -> fedDocs.size,
        "state_rows_end" -> stateRows,
        "mismatches" -> batch.toSeq.filter { case (k, v) => !streamed.get(k).contains(v) }.sortBy(_._1)
          .map { case (k, v) => s"doc $k batch $v stream ${streamed.get(k)}" })
      Outcome(setupS + warmS, ops, checks, notes, layers, spans)
    } finally q.stop()
  }
}
