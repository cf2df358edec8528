package org.apache.spark

/** Test access to the `private[spark]` listener bus: a spec that counts
  * jobs with a listener waits here until every event posted so far has
  * reached it. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
