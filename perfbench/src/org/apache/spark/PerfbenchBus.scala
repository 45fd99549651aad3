package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`. The traced run reads
  * listener counts at span boundaries, which is only exact once every
  * event posted before the boundary has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
