package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus. Lives under
  * `org.apache.spark` solely for that access. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners, so
    * that counters read afterwards include the work just finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
