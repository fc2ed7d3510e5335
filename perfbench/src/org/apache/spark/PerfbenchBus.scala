package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listeners have seen all jobs and query phases of the
  * operations that already returned. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
