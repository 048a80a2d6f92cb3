package org.apache.spark

/** Access to the listener bus's drain barrier, which Spark keeps
 * package-private: the traced run reads listener counters only after
 * every event of the measured operation has been delivered. */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
