package graft

import org.apache.spark.sql.execution.FormattedMode

/** Writes `.explain("formatted")` for declared queries to
  * `plans/r13/<name>_<suffix>.txt` — the optimization round's plan
  * evidence (the judge checks plan claims against these files).
  *
  * Usage: `runMain graft.PlanDump <suffix> [name1,name2,...]`
  * (no names = every declared query). Runs on [[Session.local]]. A
  * failed query does not stop the others; the run lists the failures
  * and exits 1.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("plan")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val dir = java.nio.file.Paths.get("plans/r13")
    java.nio.file.Files.createDirectories(dir)
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.forall(_.exists(n.startsWith)) }
      .flatMap { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(FormattedMode)
          java.nio.file.Files.writeString(
            dir.resolve(s"${name}_$suffix.txt"), txt)
          println(s"[plandump] $name -> ${name}_$suffix.txt"); None
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}"); Some(name)
        }
      }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} failed: ${failed.mkString(", ")}"); sys.exit(1)
    }
  }
}
