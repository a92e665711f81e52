package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
 * after a job ends would miss its last task events. `waitUntilEmpty` is
 * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
