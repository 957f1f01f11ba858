package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. Counters read right
  * after a phase must first wait for the bus to deliver everything that
  * phase posted; the wait is package-private to Spark, hence this shim.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
