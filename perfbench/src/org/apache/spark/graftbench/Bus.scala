package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark. */
object Bus {
  /** Blocks until every posted listener event has been delivered, so
    * counters read afterwards cover all work finished so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
