package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain barrier, which is `private[spark]`:
  * the traced run must see every event of a unit before it snapshots the
  * unit's counters. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
