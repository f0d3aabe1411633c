package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so that
  * the recorder holds the whole run before it is written out. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
