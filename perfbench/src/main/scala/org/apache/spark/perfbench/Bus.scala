package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every event posted so far reached the listeners, so counts
    * read right after an action include that action's jobs, stages and
    * tasks (the scheduler posts job-end before it releases the caller). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
