package org.apache.spark

/** Listener events arrive on Spark's listener bus thread, after the action
  * that caused them has returned. The traced run waits for the bus to
  * drain before it reads its counters; the wait is package-private in
  * Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
