package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to `org.apache.spark`. */
object ListenerBusShim {

  /** Blocks until every event posted so far has reached the listeners,
    * so task metrics of finished jobs are complete when read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
