package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * block until every posted event has reached its listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
