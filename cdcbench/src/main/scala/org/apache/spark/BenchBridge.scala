package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it before reading what its listeners recorded. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
