package org.apache.spark

/** Access to the listener bus barrier, which Spark keeps package-private:
  * the tracer waits until every event of an operation has been delivered
  * before it closes the operation's books.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
