package org.apache.spark

/** The listener bus's drain hook is package-private to Spark; the traced
  * run needs it so that counters read after an operation include every
  * event that operation posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
