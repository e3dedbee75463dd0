package graft.core

import org.apache.spark.sql.DataFrame

/** Scan-parallelism guard for CPU-amplifying operators. */
object Fanout {

  /** Rebalance `df` to the session's default parallelism when its
    * current plan yields fewer partitions — the guard an AMPLIFYING
    * operator (token/shingle/bigram explode, per-row regex scrub,
    * per-vector centroid argmax) places in front of its fan-out: such
    * work costs 10–100x the scan bytes, so a single-file / single-
    * row-group input (small fixtures here; one gz dump per source in
    * production ingest) would otherwise run the whole map side on one
    * core. The shuffle moves only the compressed source bytes; at
    * warehouse scale the scan already has plentiful splits and this
    * is the identity (no exchange added).
    *
    * Deliberately NOT applied at the [[Tables]] readers: a controlled
    * 5-rep A/B at sf0.1 showed the extra stage taxes every
    * non-amplifying or multi-job consumer (window-over-scan dedup,
    * iterative CC, Bloom build+verify: +0.3–1.0 s each) more than it
    * saves, while the amplifying single-pass operators win big
    * (semantic dedup −60%, PII scrub −55%, DSIR/bigram −30%). Placement
    * is per-operator, by measurement.
    *
    * Round-robin repartition is deterministic (Spark sorts partitions
    * before redistributing); Catalyst still pushes filters and column
    * pruning below the added exchange. */
  def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    // partition count alone lies for a big single-row-group file:
    // Spark splits it into defaultParallelism byte ranges, but only
    // the range holding the row-group midpoint carries rows — 31
    // hollow tasks and one task with the whole corpus (measured: a
    // 25-minute straggler on a 250 MB one-row-group fixture). Files
    // are the unit of GUARANTEED scan parallelism, so also widen when
    // the frame reads fewer files than cores.
    val files = df.inputFiles.length
    if (parts < p || (files > 0 && files < p)) df.repartition(p) else df
  }
}
