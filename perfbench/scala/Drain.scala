package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener totals are complete before they are written
  * (`listenerBus` is package-private to Spark). */
object PerfBenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
