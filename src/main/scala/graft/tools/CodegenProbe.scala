package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Local instrument (not a shipped surface): how much of a warm
  * entry's wall time is whole-stage-codegen COMPILATION — re-runs one
  * bench/oracle entry and prints, per run, the wall seconds alongside
  * the delta of Spark's codegen counters: compilations, and generated
  * classes (the class-bytecode-size histogram's sample count). A warm
  * run that still compiles fresh classes every repetition has plan
  * literals or structure that defeat the codegen cache. Usage:
  *   tools/java_main.sh graft.tools.CodegenProbe <sfDir> <query> [reps]
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local(graft.GraftSession.defaultCores, "graft-codegen-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
    val fn = all.getOrElse(name, sys.error(s"unknown query: $name"))
    def snap(): (Long, Long) = (
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
    fn(spark, sfDir).count() // warm
    spark.catalog.clearCache()
    for (r <- 1 to reps) {
      val c0 = snap(); val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val c1 = snap()
      println(f"run$r $dt%.3f s, compiles=${c1._1 - c0._1}, " +
        f"classes=${c1._2 - c0._2}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
