package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * trace read after a workload step holds all of that step's jobs,
  * stages and tasks. The bus is package-private to Spark, hence the
  * package of this file.
  */
object LakeBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
