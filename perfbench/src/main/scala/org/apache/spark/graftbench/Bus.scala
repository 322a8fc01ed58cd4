package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Access to the SparkContext's listener bus, which Spark keeps package
  * private. The benchmark posts its own marker events on it: the bus
  * delivers events to a listener in posting order, and Spark posts a job's
  * task, stage and job end events before the job's action returns, so once a
  * marker posted after the action reaches the listener, every event of that
  * action has too. This replaces a fixed sleep with an exact barrier.
  */
object Bus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
