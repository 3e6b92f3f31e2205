package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus is package-private; the benchmark waits on it
  * so per-operation listener counters are complete when read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
