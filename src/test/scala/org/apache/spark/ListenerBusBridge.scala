package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * specs drain it before reading what their listeners recorded. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
