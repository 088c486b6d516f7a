package org.apache.spark

/** The listener bus's drain is `private[spark]`; a spec that counts jobs
  * needs every event of the counted block delivered before it reads. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
