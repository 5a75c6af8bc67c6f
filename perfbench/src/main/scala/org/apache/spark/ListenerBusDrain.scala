package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is asynchronous; metrics read right after an action
  * would otherwise miss that action's last task-end and stage events. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
