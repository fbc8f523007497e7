package org.apache.spark

/** Test access to the session's asynchronous listener bus: wait until
  * every event posted so far has reached its listeners, so a listener's
  * totals cover the actions that already returned. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
