package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's (private) listener bus has delivered every
  * event posted so far, so a pass's counts are complete.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
