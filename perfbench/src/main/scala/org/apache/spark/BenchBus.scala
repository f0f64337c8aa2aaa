package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counts read from listeners are only complete once every event posted
  * so far has been delivered. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
