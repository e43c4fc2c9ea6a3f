package org.apache.spark

/** Listener events are delivered asynchronously; a counter read at a layer
  * boundary must first wait until every event of the finished action has
  * been delivered (the bus's drain call is private[spark]). */
object perfbenchshim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
