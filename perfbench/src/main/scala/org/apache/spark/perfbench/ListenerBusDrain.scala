package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the tracer reads its
  * buffers only after the bus has delivered everything posted so far.
  * (`listenerBus` is package-private to `org.apache.spark`.)
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
