package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
