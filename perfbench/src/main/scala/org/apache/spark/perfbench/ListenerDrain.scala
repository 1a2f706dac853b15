package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far reached the listeners, so a
  * traced run reads complete counters. The bus is private[spark]; this
  * one-line shim is the only reason the file lives in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
