package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `waitUntilEmpty` is `private[spark]`: task metrics arrive on the
  * asynchronous listener bus, so a count read right after a job must
  * first wait for the bus to deliver them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
