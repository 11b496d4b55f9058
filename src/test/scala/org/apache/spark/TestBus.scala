package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a spec's listener has heard everything the spec ran. Lives in Spark's
  * package because `listenerBus` is package-private there.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
