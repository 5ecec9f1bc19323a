package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far:
  * listeners see events asynchronously, so counters are read only after
  * this. `listenerBus` is package-private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
