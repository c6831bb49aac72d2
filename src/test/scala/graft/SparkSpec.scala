package graft

import graft.ops.Adaptive
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs: the engine's own
  * GraftSession.local, so tests run the benchmarked conf. Cores are
  * pinned at 4 so results do not depend on the host. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** `body`'s result and every listener event posted while it ran, the
    * listener bus drained first ([[Smoke.events]]). */
  def events[T](body: => T): (T, Seq[SparkListenerEvent]) = Smoke.events(spark)(body)

  /** `body`'s result and the one [[Adaptive.RoundsRun]] of `op` it posted. */
  def roundsRun[T](op: String)(body: => T): (T, Adaptive.RoundsRun) = {
    val (out, runs) = Smoke.rounds(spark)(body)
    val mine = runs.filter(_.op == op)
    assert(mine.size == 1, s"$op rounds reports: $runs")
    (out, mine.head)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
