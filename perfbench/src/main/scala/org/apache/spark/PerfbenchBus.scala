package org.apache.spark

/** Drains the listener bus so a tracer reads complete job and task
  * records right after the work it traced. `listenerBus` is
  * package-private to Spark, hence this one-line accessor's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
