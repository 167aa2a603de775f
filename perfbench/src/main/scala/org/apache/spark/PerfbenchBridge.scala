package org.apache.spark

/** The listener bus drain is Spark-private; the traced run needs it so
  * every task-end event is folded in before the layer table is built.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
