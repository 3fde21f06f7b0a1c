package org.apache.spark

/** The listener bus's drain is `private[spark]`; a spec that counts
  * events needs every event of an action delivered before it reads. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
