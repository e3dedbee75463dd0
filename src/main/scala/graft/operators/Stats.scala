package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable statistical operators on DataFrames. */
object Stats {

  /** Benjamini-Hochberg FDR adjustment — R `p.adjust(method = "BH")`
    * semantics (consumed by emptyDrops at `2-1:55` and filtered at
    * `classifier.r:63`): `adj_i = min(1, min_{j≥i}(p_j · n / j))` with
    * p ranked ascending. Null p-values pass through as null (R keeps
    * NAs). Window-only — SURVEY §2.5 Q30 is this operator's gate query.
    *
    * `partitionCols` scopes the correction (e.g. per sample); the
    * global variant uses a single ordering partition, acceptable
    * because BH runs on post-aggregation tables (≤ cells rows).
    */
  def bhAdjust(df: DataFrame, pCol: String, outCol: String,
               partitionCols: Seq[String] = Seq.empty): DataFrame = {
    val part: Seq[Column] = partitionCols.map(col)
    // one pass over df: null p-values rank last, so the others keep
    // ranks 1..n and a null row's (null) term never enters their
    // cumulative min
    val rankW = Window.partitionBy(part: _*).orderBy(col(pCol).asc_nulls_last)
    val nW = Window.partitionBy(part: _*)
    val cumW = Window.partitionBy(part: _*).orderBy(col("__rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rk", row_number().over(rankW))
      .withColumn("__n", count(col(pCol)).over(nW))
      .withColumn("__pnr", col(pCol) * col("__n") / col("__rk"))
      .withColumn(outCol, when(col(pCol).isNotNull,
        least(lit(1.0), min(col("__pnr")).over(cumW))))
      .drop("__rk", "__n", "__pnr")
  }
}
