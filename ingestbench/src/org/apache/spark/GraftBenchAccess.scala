package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run reads the
  * recorded job metrics only after every posted event has been delivered. */
object GraftBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
