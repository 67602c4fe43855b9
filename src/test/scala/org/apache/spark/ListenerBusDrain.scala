package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * spec can read a listener's tally right after the jobs it watched. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
