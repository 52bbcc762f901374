package org.apache.spark.mlkbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `org.apache.spark`
  * package: the traced run drains it before reading listener counters, so
  * every job and task of the measured phase has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
