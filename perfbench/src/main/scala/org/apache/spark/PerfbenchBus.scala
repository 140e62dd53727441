package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run must see every job and task event before it folds the
  * counters. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
