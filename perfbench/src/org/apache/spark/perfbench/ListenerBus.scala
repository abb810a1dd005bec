package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Flushes Spark's listener bus so every job, stage, task and SQL event
  * posted so far has reached the benchmark's listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
