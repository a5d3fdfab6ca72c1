package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private: it
  * returns once every event posted before the call has been delivered,
  * so a spec's listener has seen every job of the code it just ran. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
