package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * traced run reads complete job and stage records. The listener bus is
  * package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
