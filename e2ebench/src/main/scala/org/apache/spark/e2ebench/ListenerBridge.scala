package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark: a traced op's
  * counters are read only after every event it posted has been delivered. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
