package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * a listener's counters are complete when the runner reads them. The bus
  * is `private[spark]`, hence this object's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
