package graft.ops

import graft.SparkSpec
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
    // a single edge converges in exactly 2 rounds: round 1 relabels
    // 2 -> 1, round 2 observes zero changes
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val (m, posted) = events(ConnectedComponents.componentsCapped(edges, foldRows = 0L)
      .as[(Long, Long)].collect().toMap)
    assert(m === Map(1L -> 1L, 2L -> 1L))
    val descs = posted.collect { case s: SparkListenerSQLExecutionStart => s.description }
    val inCc = descs.filter(_.contains("ConnectedComponents.scala"))
    val counts = inCc.count(_.startsWith("count at"))
    val empties = inCc.count(_.startsWith("isEmpty at"))
    assert(counts === 2, s"one count per round; saw: ${inCc.mkString("; ")}")
    assert(empties === 0, s"isEmpty resurrection: ${inCc.mkString("; ")}")
  }
}
