package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer reads listener totals only after every queued event of the
  * measured actions has been delivered.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
