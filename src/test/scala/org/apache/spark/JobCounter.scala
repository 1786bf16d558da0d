package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The block runs under its own job
  * group, so jobs of other threads are not counted, and the listener bus
  * (package-private) is drained before the count is read, so every job
  * the block started has been seen. */
object JobCounter {
  private val groups = new AtomicInteger

  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-counter-${groups.incrementAndGet()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
