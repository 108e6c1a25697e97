package org.apache.spark

/** The listener bus delivers events asynchronously; its drain call is
  * package-private, so the benchmark reaches it from here before it
  * reads what its listeners collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
