package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * trace read after it is complete. The bus is package-private, hence this
  * file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
