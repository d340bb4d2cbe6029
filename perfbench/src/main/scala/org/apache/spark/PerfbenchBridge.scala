package org.apache.spark

/** The listener bus's drain is package-private to Spark; the trace needs
  * it so a request's job and stage events are in before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
