package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the trace reads its job totals only after every event of the ops it
  * timed has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
