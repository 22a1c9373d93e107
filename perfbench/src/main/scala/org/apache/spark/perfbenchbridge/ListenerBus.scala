package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark drains it so the
  * work of a finished call is fully counted before the next one starts.
  */
object ListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
