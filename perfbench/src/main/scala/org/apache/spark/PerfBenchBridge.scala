package org.apache.spark

/** Package bridge: waits until every posted listener event has been
  * delivered, so a traced window's listener records are complete
  * before they are summarised. */
object PerfBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
