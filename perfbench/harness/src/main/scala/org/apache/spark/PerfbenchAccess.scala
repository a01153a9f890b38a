package org.apache.spark

/** The listener bus drain is package-private to Spark; a traced run needs
  * it so that every event of an operation is seen before it is counted. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
