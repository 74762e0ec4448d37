package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is asynchronous and its drain call is package-private
  * to Spark, hence this shim.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
