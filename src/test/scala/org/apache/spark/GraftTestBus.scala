package org.apache.spark

/** Test access to the driver's listener bus: job-count specs read the
  * status tracker, which the bus fills asynchronously, so they drain it
  * first. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
