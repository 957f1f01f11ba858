package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously: a counter read right
  * after a body must first wait for the bus to deliver everything the body
  * posted. The wait is package-private to Spark, hence this shim. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
