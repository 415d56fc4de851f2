package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a bench
  * rep waits until every event posted by its action has been delivered
  * before it reads its listener, instead of sleeping a fixed time. */
object ListenerBusDrain {
  def drainActive(): Unit =
    SparkContext.getActive.foreach(_.listenerBus.waitUntilEmpty(60000L))
}
