package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Spark delivers listener events on a background thread; the tracer
  * calls this when a span closes so the span's jobs, tasks and plans are
  * all counted before it is read. Lives in this package because the
  * listener bus is private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
