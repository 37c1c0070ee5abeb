package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads its listener's totals only after every event
  * posted so far has been delivered. */
object ListenerDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
