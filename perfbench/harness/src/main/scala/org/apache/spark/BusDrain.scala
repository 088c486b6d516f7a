package org.apache.spark

/** The listener bus's drain is `private[spark]`; the tracer needs it so
  * that every event of one traced operation is delivered before the next
  * operation starts. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
