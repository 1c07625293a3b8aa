package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it so
  * counters are complete before a span's numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
