package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before deriving per-layer figures so no job or task is missed. The
  * drain is package-private in Spark, hence this bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
