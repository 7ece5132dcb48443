package org.apache.spark

/** Test access to the `private[spark]` listener bus: a spec that counts
  * events with its own `SparkListener` drains the bus before it reads
  * the count, since listeners are called asynchronously.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000)
}
