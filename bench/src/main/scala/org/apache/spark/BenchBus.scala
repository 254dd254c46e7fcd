package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads its listeners' totals so late events are not lost. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
