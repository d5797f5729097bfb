package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it at window boundaries so every event of the
  * finished operation has been seen before counters are read or reset.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
