package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Handles to the star-schema tables of one scale-factor directory
  * (see TESTDATA.md / FIXTURES.md §B).
  *
  * Design notes (100 TB posture):
  *  - Plain `spark.read.parquet` so Catalyst keeps predicate pushdown,
  *    column pruning and partition pruning on every downstream query.
  *  - Nothing is cached here: each query plans its own scan so the
  *    optimizer sees the full pipeline (filter → scan fusion).
  *  - `events.ts` is written as parquet TIMESTAMP(NANOS) which Spark's
  *    vectorized reader rejects; we read it via the documented
  *    `spark.sql.legacy.parquet.nanosAsLong` escape hatch and convert
  *    ns → a proper TimestampType column (µs precision, UTC session).
  *  - Every query over these tables may call the native `graft_*`
  *    functions, so the session gets them registered here
  *    ([[graft.functions.GraftExtensions.register]]) whatever way it
  *    was built.
  */
final case class Tables(spark: SparkSession, dir: String) {

  graft.functions.GraftExtensions.register(spark)

  private def table(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame   = table("region")
  def nation: DataFrame   = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame     = table("part")
  def orders: DataFrame   = table("orders")
  def lineitem: DataFrame = table("lineitem")
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** `events` with `ts` as a timestamp column and `ts_ns` as the
    * epoch-nanosecond long used for total ordering. Schema-adaptive —
    * the fixture generator has shipped two layouts:
    *  - TIMESTAMP(NANOS) (an INT64 Spark's vectorized reader rejects):
    *    read via the documented `nanosAsLong` escape hatch, `ts_ns` is
    *    the raw long, `ts` the ns→µs truncation;
    *  - timestamp[us] (plain TIMESTAMP_MICROS, read as NTZ): `ts` is
    *    used as stored, `ts_ns` derived as `unix_micros·1000` — exact,
    *    and identical ordering semantics (sessions pin UTC, so the
    *    NTZ→LTZ cast under unix_micros shifts nothing). */
  def events: DataFrame = {
    // The NTZ→LTZ casts below (and every unix_timestamp/session_window
    // consumer downstream) are value-preserving only under a UTC
    // session; Verify/SparkSpec pin it, ad-hoc shells must too.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables.events requires spark.sql.session.timeZone=UTC " +
        s"(got '${spark.conf.get("spark.sql.session.timeZone")}')")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          // integer division: `/` would promote to double and lose
          // precision above 2^53 (epoch-ns ~1.7e18), shifting events
          // that sit within ~130ns of an hour boundary into the wrong
          // bucket
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // normalize: the reader infers TimestampNTZ (isAdjustedToUTC=
        // false) or TimestampType depending on fixture layout; pin the
        // public dtype to TimestampType so consumers see one schema
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }
}
