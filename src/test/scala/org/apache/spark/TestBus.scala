package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The scheduler's listener bus is private to Spark; a spec that counts
  * jobs with a listener drains it before reading what the listener saw.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[A](sc: SparkContext)(body: => A): (A, Int) = {
    drain(sc)
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
