package graft.tools


/** Dump `.explain("formatted")` of named queries to files — the
  * plans/r20 before/after evidence. Usage:
  *   tools/java_main.sh graft.tools.PlanDump <sfDir> <outDir> <suffix> q1 q2 ...
  * Writes <outDir>/<query>_<suffix>.txt. Planning only — no jobs
  * beyond what query CONSTRUCTION itself runs (driver-fold probes,
  * scratch-table builds).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = graft.GraftSession.local(graft.GraftSession.defaultCores, "graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
    names.foreach { name =>
      val fn = all.getOrElse(name, sys.error(s"unknown query: $name"))
      val plan = try fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      System.err.println(s"wrote $name")
    }
    spark.stop()
  }
}
