package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.util.CallSite

/** Bridge to `private[spark]` parts of the `SparkContext`: the listener
  * bus, so graft posts its own decisions (e.g.
  * [[graft.ops.Adaptive.RoundsRun]]) as listener events beside Spark's
  * jobs and stages, and the call-site property that names a job — the
  * sibling of [[org.apache.spark.sql.GraftColumnBridge]]. */
object GraftListenerBridge {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` with the jobs it starts named `site` (the short call
    * site Spark lists a job under), then restore the caller's name. */
  def withCallSite[T](sc: SparkContext, site: String)(body: => T): T = {
    val prev = sc.getLocalProperty(CallSite.SHORT_FORM)
    sc.setLocalProperty(CallSite.SHORT_FORM, site)
    try body finally sc.setLocalProperty(CallSite.SHORT_FORM, prev)
  }
}
