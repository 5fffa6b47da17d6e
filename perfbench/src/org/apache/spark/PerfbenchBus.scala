package org.apache.spark

/** The live listener bus is `private[spark]`; listeners run on its own
  * thread, so a reader must wait for the queue to drain before trusting the
  * counters they collected.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
