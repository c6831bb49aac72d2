package graft.ops

import graft.SparkSpec
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Pins the convergence-fold property: each ConnectedComponents round
  * must cost exactly ONE job-bearing driver action — the changed-count
  * that also materializes the round's lazily-marked checkpoint. The
  * r4-verdict finding was a second per-round action (eager checkpoint,
  * then isEmpty): 2x sequential driver round trips on a 20-round
  * graph. Raw job counts are AQE-shape-dependent (map-stage
  * submissions), so inspect root SQL executions by action name
  * instead. (The lazy checkpoint registers a job-free execution event
  * per round — plan bookkeeping, not a driver round trip — so the
  * job-bearing signal is the `count` events.)
  */
class CcJobCountSpec extends SparkSpec {
  import spark.implicits._

  test("each round fuses materialization and convergence into one count action") {
    val descs = scala.collection.mutable.ArrayBuffer[String]()
    val counting = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => synchronized { descs += s.description }
          case _ => ()
        }
    }
    // a single edge converges in exactly 2 rounds: round 1 relabels
    // 2 -> 1, round 2 observes zero changes
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    spark.sparkContext.addSparkListener(counting)
    try {
      val m = ConnectedComponents.componentsCapped(edges, foldRows = 0L)._1
        .as[(Long, Long)].collect().toMap
      assert(m === Map(1L -> 1L, 2L -> 1L))
      // listener events post asynchronously — wait until the stream is
      // stable (bounded) instead of a fixed flaky sleep
      val deadline = System.nanoTime() + 10e9.toLong
      var last = -1
      while (System.nanoTime() < deadline && descs.size != last) {
        last = descs.size; Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(counting)
    val inCc = descs.filter(_.contains("ConnectedComponents.scala"))
    val counts = inCc.count(_.startsWith("count at"))
    val empties = inCc.count(_.startsWith("isEmpty at"))
    assert(counts === 2, s"one count per round; saw: ${inCc.mkString("; ")}")
    assert(empties === 0, s"isEmpty resurrection: ${inCc.mkString("; ")}")
  }
}
