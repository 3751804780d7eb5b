package org.apache.spark

/** Listener events are delivered asynchronously; the tracer reads its
  * aggregates only after every event posted so far has been handled.
  * `listenerBus` is package-private to Spark, hence this one-line shim.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
