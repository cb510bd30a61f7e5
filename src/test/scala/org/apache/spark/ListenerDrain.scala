package org.apache.spark

/** Listener events arrive on Spark's listener bus thread after the action
  * that caused them has returned; a spec counting them waits for the bus
  * to drain first. The wait is package-private in Spark, hence this
  * file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
