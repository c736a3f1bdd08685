package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so span boundaries see the job, stage and query events their body
  * caused. The bus is private to Spark; this is its only use here.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
