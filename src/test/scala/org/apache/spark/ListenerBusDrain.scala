package org.apache.spark

/** Listener events reach listeners asynchronously; a spec that counts
  * what a `QueryExecutionListener` saw reads its buffer only after the bus
  * has delivered everything posted so far. (`listenerBus` is
  * package-private to `org.apache.spark`.)
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
