package org.apache.spark

/** The listener bus's drain is `private[spark]`; the trace needs it so
  * that every event of one unit has been delivered before the next
  * unit starts. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
