package org.apache.spark

/** Drains the listener bus, so every event of the jobs that have ended
  * has reached the benchmark's listeners before their counts are read.
  */
object QbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
