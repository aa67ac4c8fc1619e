package org.apache.spark

/** Listener-bus drain: Spark keeps the bus package-private, and a
  * listener's counts are complete only after every posted event has been
  * delivered. Callers that read a listener's totals after an action drain
  * first instead of sleeping. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
