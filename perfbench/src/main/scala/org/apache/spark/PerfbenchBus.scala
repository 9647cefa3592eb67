package org.apache.spark

/** The listener bus is asynchronous; counters read right after a timed
  * call must first let every posted job, stage and task event arrive.
  * `waitUntilEmpty` is Spark-private, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
