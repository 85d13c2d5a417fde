package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives under org.apache.spark only to reach the listener bus, whose
  * drain call is package-private to Spark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
