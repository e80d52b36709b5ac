package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The scheduler's listener bus is private to Spark; the traced run drains it
  * once, before it reads what its listeners recorded.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
