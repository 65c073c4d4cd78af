package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run reads an op's counters only after all of them arrived
  * (`waitUntilEmpty` is private[spark]). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
