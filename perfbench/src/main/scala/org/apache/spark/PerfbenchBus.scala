package org.apache.spark

/** Access to the listener bus drain, which is package-private to Spark.
  * The traced run waits for it before reading listener records, so every
  * job, stage and task event of an op has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
