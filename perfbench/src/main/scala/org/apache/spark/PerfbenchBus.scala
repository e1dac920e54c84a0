package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run reads its listener's counters only after every event posted so
  * far has been delivered, so each span's counts are exact. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
