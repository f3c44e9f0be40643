package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the live listener bus, which Spark keeps package-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
