package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * the recorders hold the whole measured window before it is written out.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
