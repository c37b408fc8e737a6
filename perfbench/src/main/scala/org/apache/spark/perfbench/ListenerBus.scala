package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain barrier, which Spark keeps
  * package-private: span counters are read only after every event of
  * the spans' jobs has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
