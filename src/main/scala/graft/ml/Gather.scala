package graft.ml

import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.unsafe.types.UTF8String

/** The gather in front of a local kernel: `(key, barcode, gene, count)`
  * rows are grouped by key in one shuffle, each key's rows into one
  * [[Matrix]] inside one task, which then runs the kernel on it.
  * [[Doublets.scores]] gathers one matrix per sample,
  * [[graft.qc.DataIntegration.run]] one of the merged experiment, each
  * with its own [[Cost]].
  *
  * The kernel tasks of a JVM share the heap Spark leaves to user code
  * ([[budget]]). A matrix counts what it holds in [[heldBytes]] as
  * it grows, and [[checkMemory]] refuses its key with
  * [[SampleTooLargeException]] past the budget less what the other
  * tasks have counted, before the kernel could run the executor out of
  * memory; a task gives its count back when it ends. While rows arrive
  * — in the partial matrix each input partition builds on the map side
  * of the shuffle, and while the partials merge — a matrix counts 100
  * bytes per name, [[Cost.rowBytes]] per row and 16 bytes per empty
  * buffer slot. The kernel's whole estimate, [[Cost.taskBytes]] with its
  * fixed terms, is counted once, when the final matrix is drained. So
  * the partials of a key count its rows once between them and never the
  * kernel's fixed terms, and a key that its final matrix fits in is not
  * refused for how its rows are partitioned.
  */
object Gather {

  /** A kernel's memory estimate, and the share of the heap Spark's own
    * memory manager claims (`spark.memory.fraction`). */
  trait Cost extends Serializable {
    /** The kernel's name in a refusal. */
    def step: String
    /** The bytes a gathered row costs the task, its 16 in the buffer
      * included. */
    def rowBytes: Long
    /** An upper bound on the bytes the task holds once the kernel runs
      * on `cells` cells, `genes` genes and `nnz` rows. */
    def taskBytes(cells: Long, genes: Long, nnz: Long): Long
    def memoryFraction: Double
    final def budget: Long = Gather.budget(memoryFraction)
  }

  /** The heap Spark leaves to user code on this JVM: (heap − 300 MiB,
    * Spark's reserved memory) · (1 − `spark.memory.fraction`). */
  def budget(memoryFraction: Double): Long =
    ((Runtime.getRuntime.maxMemory - 300L * 1024 * 1024) * (1 - memoryFraction)).toLong

  /** Bytes the running kernel tasks of this JVM have counted. */
  private[ml] val heldBytes = new AtomicLong

  /** The rows of `rows` grouped by key, one [[Matrix]] per key in one
    * task of `partitioner`, each run through `kernel`. */
  def byKey[T: ClassTag](rows: RDD[(String, String, String, Long)], partitioner: Partitioner,
                         cost: Cost)(kernel: Matrix => Iterator[T]): RDD[T] =
    rows.map(row => (row._1, row))
      .combineByKey[Matrix](row => new Matrix(row._1, cost).add(row),
        _ add _, _ merge _, partitioner)
      .flatMap { case (_, m) => kernel(m) }

  /** One key's `(barcode, gene, count)` rows, barcodes and genes
    * interned as they arrive (16 bytes per row); a row with a null gene
    * only adds its barcode, a cell without entries. Row order is free:
    * [[drain]] fixes every order the kernel sums in. */
  final class Matrix(val key: String, cost: Cost) extends Serializable {
    private val barcodeIds = scala.collection.mutable.HashMap.empty[String, Int]
    private val geneIds = scala.collection.mutable.HashMap.empty[String, Int]
    private val barcodeNames = scala.collection.mutable.ArrayBuffer.empty[String]
    private val geneNames = scala.collection.mutable.ArrayBuffer.empty[String]
    private var cellOf = new Array[Int](16)
    private var geneOf = new Array[Int](16)
    private var countOf = new Array[Long](16)
    private var n = 0
    // the bytes this matrix has counted in `heldBytes` (a copy shipped
    // through the shuffle starts from none)
    @transient private var counted = 0L
    @transient private var releasing = false

    def cells: Int = barcodeNames.length
    def barcodes: Seq[String] = barcodeNames.toSeq

    def add(row: (String, String, String, Long)): Matrix = {
      if (row._3 == null) cellId(row._2)
      else {
        if (n == cellOf.length) grow(math.max(16, 2 * n))
        append(row._2, row._3, row._4)
      }
      this
    }

    def merge(o: Matrix): Matrix = {
      o.barcodeNames.foreach(cellId)
      if (n + o.n > cellOf.length) grow(math.max(n + o.n, cellOf.length + cellOf.length / 2))
      var i = 0
      while (i < o.n) {
        append(o.barcodeNames(o.cellOf(i)), o.geneNames(o.geneOf(i)), o.countOf(i))
        i += 1
      }
      this
    }

    private def cellId(barcode: String): Int =
      barcodeIds.getOrElseUpdate(barcode, { barcodeNames += barcode; barcodeNames.length - 1 })

    private def append(barcode: String, gene: String, count: Long): Unit = {
      cellOf(n) = cellId(barcode)
      geneOf(n) = geneIds.getOrElseUpdate(gene,
        { geneNames += gene; geneNames.length - 1 })
      countOf(n) = count
      n += 1
    }

    private def grow(capacity: Int): Unit = {
      reserve(100L * (cells + geneNames.length) + cost.rowBytes * n + 16L * (capacity - n))
      cellOf = java.util.Arrays.copyOf(cellOf, capacity)
      geneOf = java.util.Arrays.copyOf(geneOf, capacity)
      countOf = java.util.Arrays.copyOf(countOf, capacity)
    }

    /** Count `need` bytes for this matrix, in place of what it counted
      * before, and refuse the key past what the other tasks leave. */
    private def reserve(need: Long): Unit = {
      val others = Option(TaskContext.get()).fold(0L) { ctx =>
        if (!releasing) {
          ctx.addTaskCompletionListener[Unit] { _ => heldBytes.addAndGet(-counted); counted = 0 }
          releasing = true
        }
        val held = heldBytes.addAndGet(need - counted)
        counted = need
        held - need
      }
      checkMemory(cost.step, key, cells, n, need, math.max(0L, cost.budget - others))
    }

    /** Barcodes in binary order, genes in binary order and, per cell,
      * its entries as (gene rank, count), sorted by (gene, count).
      * Counts the kernel's whole estimate first, and frees the row
      * buffer. */
    def drain(): (Array[String], Array[String], Array[Array[Int]], Array[Array[Long]]) = {
      reserve(cost.taskBytes(cells, geneNames.length, n))
      val cellRank = ranks(barcodeNames.toArray)
      val geneRank = ranks(geneNames.toArray)
      val sizes = new Array[Int](cells)
      var i = 0
      while (i < n) { sizes(cellRank(cellOf(i))) += 1; i += 1 }
      val genes = sizes.map(new Array[Int](_))
      val counts = sizes.map(new Array[Long](_))
      val fill = new Array[Int](cells)
      i = 0
      while (i < n) {
        val c = cellRank(cellOf(i))
        genes(c)(fill(c)) = geneRank(geneOf(i)); counts(c)(fill(c)) = countOf(i)
        fill(c) += 1; i += 1
      }
      cellOf = Array.emptyIntArray; geneOf = Array.emptyIntArray
      countOf = Array.emptyLongArray; n = 0
      barcodeIds.clear(); geneIds.clear()
      for (c <- 0 until cells) {
        val order = genes(c).indices.sortBy(e => (genes(c)(e), counts(c)(e)))
        genes(c) = order.map(genes(c)).toArray
        counts(c) = order.map(counts(c)).toArray
      }
      val names = new Array[String](cells)
      barcodeNames.indices.foreach(b => names(cellRank(b)) = barcodeNames(b))
      val geneNamesByRank = new Array[String](geneNames.length)
      geneNames.indices.foreach(g => geneNamesByRank(geneRank(g)) = geneNames(g))
      (names, geneNamesByRank, genes, counts)
    }
  }

  /** The position of each string in binary UTF-8 order. */
  private[ml] def ranks(xs: Array[String]): Array[Int] = {
    val utf8 = xs.map(UTF8String.fromString)
    val order = xs.indices.sortWith((a, b) => utf8(a).binaryCompare(utf8(b)) < 0)
    val rank = new Array[Int](xs.length)
    order.zipWithIndex.foreach { case (x, r) => rank(x) = r }
    rank
  }

  /** A task past this many bytes is refused: the key's rows are too
    * many for its kernel in one task. */
  final class SampleTooLargeException(msg: String) extends IllegalStateException(msg)

  /** Throw [[SampleTooLargeException]] when running `step` on `sample`
    * (`cells` cells, `nnz` rows), estimated at `estimate` bytes, would
    * hold more than `limitBytes`. */
  private[ml] def checkMemory(step: String, sample: String, cells: Long, nnz: Long,
                              estimate: Long, limitBytes: Long): Unit =
    if (estimate > limitBytes)
      throw new SampleTooLargeException(
        s"$step of sample $sample ($cells cells, $nnz nonzeros) needs " +
          s"~$estimate bytes in one task, over its $limitBytes-byte share of the heap")
}
