package org.apache.spark

/** Lets graft.tools.Profile and graft.sources.Layout's counted writes wait
  * until every posted event has reached every listener; the bus is
  * package-private to Spark, hence this bridge. */
object ProfileBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
