package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark needs it so
  * that its per-span Spark accounting is complete before it is read. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
