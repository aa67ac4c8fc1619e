package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run reads its listener's per-span totals only after every
  * event posted so far has been delivered. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
