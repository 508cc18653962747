package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a traced
  * pass waits until every event posted so far has reached its listeners
  * before it reads what they recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
