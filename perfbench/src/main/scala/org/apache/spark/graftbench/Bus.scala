package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal the harness needs: listener events arrive
  * asynchronously, so a span's numbers are complete only once the bus has
  * delivered everything posted before the span closed.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
