package org.apache.spark

/** The scheduler's listener bus is private to Spark; a spec that counts
  * jobs with a listener drains it before reading what the listener saw.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
