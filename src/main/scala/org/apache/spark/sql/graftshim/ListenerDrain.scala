package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so
  * a listener's counts can be read exactly. The listener bus is
  * asynchronous and its drain call is `private[spark]`, hence this shim.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
