package graft
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: dump `.explain("formatted")` for
  * catalog queries to files (plans/rNN/<query>_<tag>.txt), so plan-shape
  * claims (Exchange count, join strategy, PushedFilters) are auditable
  * without running Spark. Usage:
  *   runMain graft.PlanDump <outDir> <tag> [query ...]   (no list = all)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(Sessions.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: $e")
        }
      }
    spark.stop()
  }
}
