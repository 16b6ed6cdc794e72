package org.apache.spark

/** Drains the listener bus, so the status tracker reflects every job
  * start and end posted so far. `listenerBus` is package-private to
  * Spark, hence this one-line accessor's package.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
