package org.apache.spark

/** Access to the live listener bus, which Spark keeps package-private.
  * The traced mode drains it before reading its counters, so a job's last
  * task events are counted without a fixed sleep.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
