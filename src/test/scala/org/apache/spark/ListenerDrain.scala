package org.apache.spark

/** Test access to the listener bus: a spec that counts Spark events
  * reads its counters only after every posted event was delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
