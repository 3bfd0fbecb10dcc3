package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The live listener bus is private to Spark; specs that count the jobs a
  * call runs, and ProfileScale's shuffle-byte counts, drain it before
  * reading their listener.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
