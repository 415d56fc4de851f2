package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for every posted event to be delivered before it reads
  * its listener, instead of sleeping a fixed time. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
