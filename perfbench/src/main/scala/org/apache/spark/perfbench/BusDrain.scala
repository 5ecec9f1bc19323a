package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; per-layer counters are
  * read only after the bus has delivered everything posted so far.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
