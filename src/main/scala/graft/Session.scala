package graft

import org.apache.spark.sql.SparkSession

/** The local session of the harness mains (Bench, Profile, PlanDump,
  * Verify): one core per task slot and per shuffle partition, the
  * `graft_*` functions injected, shuffle scratch on the fastest local
  * dir, and the UTC / µs-timestamp settings the DuckDB oracle compare
  * needs. Further `spark.*` settings reach it as `-Dspark.*` system
  * properties. */
object Session {

  /** `SPARK_GRAFT_CPUS`, defaulting to the available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", graft.core.Scratch.localDir())
      .config("spark.ui.enabled", "false")
      // µs int64 timestamps in output parquet (not int96) so a pyarrow
      // read sees the same instant DuckDB computes
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
