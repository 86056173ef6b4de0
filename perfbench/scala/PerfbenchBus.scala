package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer reads its records only after every queued event is handled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
