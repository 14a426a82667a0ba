package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass reads its job profile only after the last job-end and
  * task-end events arrived. The bus is only reachable from this
  * package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
