package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain, which Spark keeps package-private. */
object ListenerBusBridge {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
