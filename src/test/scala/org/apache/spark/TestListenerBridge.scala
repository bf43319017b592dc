package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * job and plan callbacks a test counts are complete before it reads
  * them (`listenerBus` is `private[spark]`).
  */
object TestListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
