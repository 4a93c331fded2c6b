package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark's trace needs to
  * wait for it so that task metrics are complete when a span is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
