package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Local profiling harness (not part of any shipped surface): runs one
  * named bench/oracle query warm, then re-runs it with a listener that
  * prints per-job wall time, task counts and shuffle bytes — the
  * "which of this entry's jobs holds the time" readout the UI would
  * give if it were enabled. Each run's line also carries the delta of
  * Spark's codegen counters: compilations, and generated classes (the
  * class-bytecode-size histogram's sample count). A warm run that
  * still compiles fresh classes every repetition has plan literals or
  * structure that defeat the codegen cache. Usage:
  *   tools/java_main.sh graft.tools.Prof <sfDir> <query> [reps]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.local(graft.GraftSession.defaultCores, "graft-prof")
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
    val fn = all.getOrElse(name, sys.error(s"unknown query: $name"))

    // warm-up
    val tw0 = System.nanoTime()
    fn(spark, sfDir).count()
    println(f"WARM ${(System.nanoTime() - tw0) / 1e9}%.3f s")
    spark.catalog.clearCache()

    final case class J(id: Int, t0: Long, var t1: Long = 0L,
      var tasks: Int = 0, var shufRead: Long = 0L, var shufWrite: Long = 0L)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    // a task belongs to the job that submitted its stage: jobs that
    // run at the same time (a broadcast build beside the main job)
    // must not trade tasks by finish order
    val jobOfStage = scala.collection.mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = J(e.jobId, e.time)
          e.stageIds.foreach(jobOfStage(_) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          jobOfStage.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              j.shufRead += m.shuffleReadMetrics.totalBytesRead
              j.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    if (sys.env.get("PROF_PLANS").exists(_ == "1"))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            println(s"=== PLAN ($funcName, ${durationNs / 1e9}%.3f s)")
            println(qe.executedPlan.toString.linesIterator.take(80)
              .mkString("\n"))
          }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    def codegen(): (Long, Long) = (
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
    for (r <- 1 to reps) {
      jobs.synchronized { jobs.clear(); jobOfStage.clear() }
      val c0 = codegen()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val c1 = codegen()
      Thread.sleep(300) // let the listener bus drain
      println(f"RUN$r $dt%.3f s, ${jobs.size} jobs, " +
        f"compiles=${c1._1 - c0._1}, classes=${c1._2 - c0._2}")
      jobs.synchronized {
        jobs.values.foreach { j =>
          val d = (j.t1 - j.t0) / 1e3
          println(f"  job ${j.id}%4d ${d}%8.3f s tasks=${j.tasks}%5d " +
            f"shufR=${j.shufRead / 1024}%8d KiB shufW=${j.shufWrite / 1024}%8d KiB")
        }
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
