package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps private. */
object ListenerBus {

  /** Waits until every queued listener event has been delivered, so
    * a listener can be read or detached without losing late events.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
