package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the listener bus, which
  * Spark keeps package-private: the benchmark drains it before it reads
  * its listener counters, so every job of a measured window is counted.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
