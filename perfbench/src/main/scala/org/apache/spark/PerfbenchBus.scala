package org.apache.spark

/** Access to the listener bus, which is private to Spark: the tracer
  * drains it before reading what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
