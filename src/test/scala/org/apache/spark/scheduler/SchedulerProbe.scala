package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Test access to two scheduler internals. */
object SchedulerProbe {
  /** Jobs the DAGScheduler still runs. A job leaves this set before its
    * waiter completes, so the count is exact as soon as the futures of
    * the jobs a caller submitted have ended. */
  def activeJobs(sc: SparkContext): Int = sc.dagScheduler.activeJobs.size

  /** Returns once the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
