package org.apache.spark

/** Listener-bus access for the benchmark: per-unit Spark counters are
  * read only after every event of the unit has been delivered.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
