package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: the harness reads a pass's
  * counters only after every event of that pass has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
