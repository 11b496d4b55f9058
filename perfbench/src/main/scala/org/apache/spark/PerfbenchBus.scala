package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a tracer read right after a workload window sees all of it. Lives in
  * Spark's package because `listenerBus` is package-private there.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
