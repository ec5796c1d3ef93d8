package org.apache.spark.graftbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private: the
  * benchmark reads its counters only after every queued event is delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
