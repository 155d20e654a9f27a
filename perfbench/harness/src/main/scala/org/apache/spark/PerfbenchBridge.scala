package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * the listener bus is empty, so counters read after an action include
  * every event that action posted. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
