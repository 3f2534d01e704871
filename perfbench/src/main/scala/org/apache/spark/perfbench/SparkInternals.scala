package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark needs: wait until every
  * posted listener event has been delivered, so a metric read after a job
  * sees all of that job's events. */
object SparkInternals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
