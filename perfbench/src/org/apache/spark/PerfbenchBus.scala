package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * calls it between ops so every event lands before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
