package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`: the harness drains
  * it at op boundaries so every listener event of an op is attributed to
  * that op before the next one starts.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
