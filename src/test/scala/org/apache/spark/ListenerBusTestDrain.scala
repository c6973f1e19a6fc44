package org.apache.spark

/** The listener bus delivers events asynchronously; specs that count jobs
  * drain it first. The drain is package-private in Spark, hence this
  * bridge. */
object ListenerBusTestDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
