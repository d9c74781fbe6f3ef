package org.apache.spark

/** The listener bus's drain is package-private; the tracer needs it
  * so counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
