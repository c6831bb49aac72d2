package graft

import graft.ops.Adaptive
import org.apache.spark.{GraftListenerBridge, SparkFirehoseListener}
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Shared plumbing of the scale cases ([[ScaleCases]]) and the specs:
  * wall-clock timing, scratch directories and the listener events a
  * run posted. */
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

  /** `f` over a fresh scratch directory, deleted afterwards whether `f`
    * returns or throws: generated inputs are gigabytes at scale. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
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
}
