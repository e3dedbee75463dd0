package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. A failed query does not stop
  * the others; the run lists the failures and exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // optional prefix filter for targeted re-verification (pairs with
    // check_oracle.py --only; the driver never sets it → full set)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // independent queries submitted concurrently — the scheduler
    // interleaves their jobs across cores; each result lands in its own
    // directory so there is no output-order dependence
    val failed = inPool(SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.forall(_.exists(n.startsWith))), threads = 4) { name =>
      try { SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"); Some(name) }
    }.flatten
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}"); sys.exit(1)
    }
  }

  /** `f` over `names` on a pool of `threads`, results in input order. */
  private def inPool[A](names: Seq[String], threads: Int)(f: String => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(names.map(n => Future(f(n)))), Duration.Inf)
    finally pool.shutdown()
  }
}
