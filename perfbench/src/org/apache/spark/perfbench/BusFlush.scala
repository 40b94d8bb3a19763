package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so a listener has seen every
  * event of the jobs that already ran before its records are read. The
  * bus is `private[spark]`, hence this package. */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
