package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener sees all jobs of a span before it is summarized. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
