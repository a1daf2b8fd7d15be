package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events are
  * delivered asynchronously, so a traced pass drains the bus before it
  * reads what its listener collected.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
