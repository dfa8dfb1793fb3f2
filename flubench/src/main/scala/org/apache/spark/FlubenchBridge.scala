package org.apache.spark

/** Reaches Spark's `private[spark]` listener bus so a reader of listener
  * counters can first wait until every posted event has been delivered.
  */
object FlubenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
