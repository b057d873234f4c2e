package org.apache.spark

/** Test bridge to the `private[spark]` listener bus: waits until every
  * event posted so far (job starts, SQL execution ends) has reached its
  * listeners, so a listener's counts are final when a test reads them. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
