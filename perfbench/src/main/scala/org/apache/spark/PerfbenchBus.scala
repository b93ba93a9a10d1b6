package org.apache.spark

/** Waits until every posted listener event has been delivered, so a traced
  * op's job and plan events are all recorded before the next op starts.
  * Lives in this package because the listener bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
