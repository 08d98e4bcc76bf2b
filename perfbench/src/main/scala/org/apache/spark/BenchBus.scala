package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * benchmark's counters are complete when it reads them. The bus is private
  * to the `org.apache.spark` package, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
