package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The one `private[spark]` seam the benchmark needs: wait until every
  * queued listener event has been delivered, so a traced op's job,
  * stage and task counts are complete before they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
