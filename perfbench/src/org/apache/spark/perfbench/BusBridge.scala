package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The live listener bus is private to Spark; the benchmark must drain it
  * before reading its listeners' counts.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
