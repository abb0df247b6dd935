package org.apache.spark

/** Waits until every event posted so far has reached every listener, so the
  * benchmark's trace can attribute Spark jobs, stages and SQL executions to
  * the operation that caused them. The listener bus is package-private to
  * Spark, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
