package org.apache.spark

/** Test access to the context's listener bus, which is `private[spark]`:
  * block until every event posted so far has reached the listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
