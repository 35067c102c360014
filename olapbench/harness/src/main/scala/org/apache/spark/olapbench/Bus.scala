package org.apache.spark.olapbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Blocks until every posted listener event has been delivered, so a
    * collector's counters are complete at a phase boundary. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
