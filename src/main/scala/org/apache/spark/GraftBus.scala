package org.apache.spark

/** Access to the `private[spark]` listener bus. Listeners are called
  * asynchronously, so a reader of what a listener counted drains the
  * bus first; `listeners` shows what is still registered on a session.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000)

  /** The session's Spark listeners and streaming-query listeners. */
  def listeners(spark: sql.SparkSession): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.streams.listListeners()
  }
}
