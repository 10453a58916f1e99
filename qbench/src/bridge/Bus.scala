package org.apache.spark.qbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached every listener,
    * so counters read afterwards are complete for the work already done. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
