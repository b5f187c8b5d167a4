package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private to the `spark` package. The harness
  * drains it before reading listener counters, so that the last task-end
  * events of one timed section are not attributed to the next.
  */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
