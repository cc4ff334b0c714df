package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private. */
object PerfbenchBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
