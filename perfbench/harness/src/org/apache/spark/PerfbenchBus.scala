package org.apache.spark

/** Lives in Spark's package only to reach the private listener bus: the
  * tracer reads its counters after every queued event has been
  * delivered, so a phase's last jobs and tasks are never missed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
