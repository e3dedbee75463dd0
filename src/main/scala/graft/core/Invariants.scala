package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's inline invariant suite (`src/test_object.r:4-50`,
  * executed on every run at `4_Prepare_experiment.r:153`), ported to
  * run against the `Experiment` handles. Returns violations instead of
  * throwing so the caller can report all at once.
  *
  * Two Spark jobs: one tally over the cells, and one over the gene
  * table and the expr genes together (an RDD job runs its shuffle
  * inside it, where each DataFrame count or aggregation would run its
  * own shuffles and result as separate jobs). */
object Invariants {

  def check(exp: Experiment, minGenes: Long = 1): Seq[String] = {
    val out = Seq.newBuilder[String]
    val hasName = exp.genes.columns.contains("name")
    val genes = geneTally(exp, hasName)

    // test_object.r:7-9 — object exists and has genes
    if (genes.rows < minGenes) out += s"gene table has ${genes.rows} rows (< $minGenes)"

    // test_object.r:14-24 — required metadata columns
    val required = Seq("sample", "barcode", "nCount", "nFeature",
      "percent_mt", "doublet_scores", "cells_id")
    val missing = required.filterNot(exp.cells.columns.contains)
    if (missing.nonEmpty) out += s"cells missing columns: ${missing.mkString(",")}"

    if (missing.isEmpty) {
      val c = cellTally(exp.cells)
      val n = c.rows
      // test_object.r:26-29 — cells_id is exactly 0..n-1
      def show(id: Long) = if (c.distinct == 0) "null" else id.toString
      if (n > 0 && (c.distinct == 0 || c.min != 0L || c.max != n - 1 || c.distinct != n))
        out += s"cells_id not dense 0..${n - 1}: min=${show(c.min)} max=${show(c.max)} distinct=${c.distinct}"

      // test_object.r:31-36 — percent_mt is a 0-100 percent
      if (c.badMt > 0) out += s"${c.badMt} cells with percent_mt outside [0,100]"
    }

    // test_object.r:40-48 — annotations aligned & names unique
    if (hasName && genes.dupNames > 0)
      out += s"${genes.dupNames} duplicate gene names after dedup-rename"
    if (genes.dupInputs > 0) out += s"${genes.dupInputs} duplicate gene input ids"

    // expr references only known genes
    if (genes.orphans > 0) out += s"${genes.orphans} expr rows with unknown gene"

    out.result()
  }

  /** Gene rows; names and input ids seen more than once (a null one
    * included); expr rows whose gene is no input id (a null gene
    * never matches). */
  private final case class GeneTally(rows: Long, dupNames: Long, dupInputs: Long,
                                     orphans: Long)

  private def geneTally(exp: Experiment, hasName: Boolean): GeneTally = {
    // keys (0, name) and (1, input id) from the gene table, (1, gene)
    // from expr; values (gene rows, expr rows)
    val fromGenes = exp.genes
      .select(col("input"), if (hasName) col("name") else lit(null).as("name")).rdd
      .flatMap { r =>
        val input = ((1, r.get(0)), (1L, 0L))
        if (hasName) Iterator(((0, r.get(1)), (1L, 0L)), input) else Iterator(input)
      }
    val fromExpr = exp.expr.select("gene").rdd.map(r => ((1, r.get(0)), (0L, 1L)))
    fromGenes.union(fromExpr)
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .aggregate(GeneTally(0, 0, 0, 0))(
        { case (t, ((kind, key), (g, e))) =>
          if (kind == 0) t.copy(dupNames = t.dupNames + (if (g > 1) 1 else 0))
          else GeneTally(t.rows + g, t.dupNames, t.dupInputs + (if (g > 1) 1 else 0),
            t.orphans + (if (g == 0 || key == null) e else 0))
        },
        (a, b) => GeneTally(a.rows + b.rows, a.dupNames + b.dupNames,
          a.dupInputs + b.dupInputs, a.orphans + b.orphans))
  }

  /** Cell rows; distinct non-null `cells_id`s and their min and max;
    * rows with `percent_mt` outside [0, 100]. */
  private final case class CellTally(rows: Long, distinct: Long, min: Long, max: Long,
                                     badMt: Long)

  private def cellTally(cells: DataFrame): CellTally = {
    // the range test stays a Spark predicate: NaN lies above 100 there,
    // and a null percent is not counted
    val badMt = when(col("percent_mt") < 0 || col("percent_mt") > 100, 1L).otherwise(0L)
    cells.select(col("cells_id").cast("long"), badMt).rdd
      .map(r => (r.get(0), (1L, r.getLong(1))))
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .aggregate(CellTally(0, 0, Long.MaxValue, Long.MinValue, 0))(
        { case (t, (id, (rows, bad))) => id match {
            case null => t.copy(rows = t.rows + rows, badMt = t.badMt + bad)
            case i: java.lang.Long => CellTally(t.rows + rows, t.distinct + 1,
              math.min(t.min, i), math.max(t.max, i), t.badMt + bad)
          }
        },
        (a, b) => CellTally(a.rows + b.rows, a.distinct + b.distinct,
          math.min(a.min, b.min), math.max(a.max, b.max), a.badMt + b.badMt))
  }
}
