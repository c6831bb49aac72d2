package graft

import graft.ops.Adaptive
import org.apache.spark.{GraftListenerBridge, SparkFirehoseListener}
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Shared plumbing of the `*ScaleSmoke` mains (and the specs):
  * wall-clock timing, the listener events a run posted, fixed-digit
  * JSON numbers and the one-line artifact each smoke writes. Artifacts
  * land in the CURRENT directory, so run smokes from a scratch
  * checkout when the committed `BENCH_SCALE_*.json` files must stay as
  * captured. */
object Smoke {

  /** `f`'s result and its wall time in seconds. */
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds of the faster of two timed runs of `f`, after one untimed
    * warm-up run (codegen, JIT). */
  def warmMin(f: => Any): Double = {
    f
    (1 to 2).map(_ => time(f)._2).min
  }

  /** `f`'s result and every listener event posted while it ran. The
    * listener bus is drained through the bridge before the listener
    * detaches, so no event `f` caused is still in flight. */
  def events[T](spark: SparkSession)(f: => T): (T, Seq[SparkListenerEvent]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkFirehoseListener { override def onEvent(e: SparkListenerEvent): Unit = seen.add(e) }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { val out = f; GraftListenerBridge.drain(sc); (out, seen.asScala.toSeq) }
    finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the [[Adaptive.RoundsRun]] reports it posted. */
  def rounds[T](spark: SparkSession)(f: => T): (T, Seq[Adaptive.RoundsRun]) = {
    val (out, posted) = events(spark)(f)
    (out, posted.collect { case r: Adaptive.RoundsRun => r })
  }

  /** `v` with `digits` decimals. Locale.ROOT: a comma-decimal default
    * locale would render 77,70 and break the JSON artifact. */
  def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
  def fmt2(v: Double): String = fmt(v, 2)
  def fmt3(v: Double): String = fmt(v, 3)

  /** Print the artifact's JSON line and write it to `file` in the
    * current directory. */
  def artifact(file: String, json: String): Unit = {
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file), json)
  }
}
