package org.apache.spark

/** Listener-bus drain for specs: Spark keeps it package-private, and a
  * listener's counts are complete only after every posted event has been
  * delivered. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
