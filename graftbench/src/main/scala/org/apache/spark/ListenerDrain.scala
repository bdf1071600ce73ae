package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * pass's job spans are complete before they are read. Lives in Spark's
  * package because the listener bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
