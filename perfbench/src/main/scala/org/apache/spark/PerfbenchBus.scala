package org.apache.spark

/** Listener-bus access the public API lacks: a traced run reads its
  * listener's counters only after every event of the measured jobs has
  * been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
