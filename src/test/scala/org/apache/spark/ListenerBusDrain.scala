package org.apache.spark

/** Test access to the listener bus: waits until every posted event has
  * reached the registered listeners, so a job-counting listener has seen
  * the last job of the call under test before it is read.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
