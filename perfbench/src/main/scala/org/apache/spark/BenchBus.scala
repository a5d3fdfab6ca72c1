package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private: it
  * returns once every event posted before the call has been delivered,
  * so a listener's counters are complete without sleeping on the bus. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
