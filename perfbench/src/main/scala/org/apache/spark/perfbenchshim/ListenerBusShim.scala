package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the traced run reads its
  * recorder only after the bus has delivered everything posted so far.
  * `listenerBus` is package-private to Spark, hence this shim.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
