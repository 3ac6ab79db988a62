package org.apache.spark.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The private[spark] listener bus, seen from graft (lives under o.a.s
  * for that — the same minimal-bridge pattern as
  * sql.graftshim.GraftShim). Spark delivers listener events
  * asynchronously; a meter that reads its counts right after an
  * action would race the queue and attribute one query's shuffle bytes
  * to the next. `waitUntilEmpty` drains every queue (it's what Spark's
  * own test harness uses between action and assertion). */
object BusShim {
  def flushListeners(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Queue a driver-side event behind every event posted before it. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
