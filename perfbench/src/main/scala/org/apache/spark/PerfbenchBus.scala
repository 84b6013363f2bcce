package org.apache.spark

/** The listener bus drain, which Spark keeps package-private: the tracer
  * must see every event of a run before it attributes counts to spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
