package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the listener bus: waits until every posted event has
  * reached the registered listeners, so a job-counting listener has seen
  * the last job of the call under test before it is read.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val Token = "graft.test.countJobs"

  /** Spark jobs that `body` starts from the calling thread (and threads
    * it spawns, which inherit local properties).
    */
  def jobs(sc: SparkContext)(body: => Any): Int = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(Token) == "1") n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Token, "1")
      try body finally sc.setLocalProperty(Token, null)
      drain(sc)
      n.get()
    } finally sc.removeSparkListener(listener)
  }
}
