package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer waits for every event of a finished call before it attributes
  * jobs and query plans to that call's span. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
