package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so
  * a traced pass can detach its listeners without losing its tail.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
