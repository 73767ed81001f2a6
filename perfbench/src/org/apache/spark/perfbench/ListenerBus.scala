package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread; draining the bus
  * at a span boundary makes every event of the span land before the
  * span closes. The drain is package-private in Spark, hence this
  * file's package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
