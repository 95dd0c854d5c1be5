package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a counter read at an op
  * boundary is only complete once the bus has delivered everything posted
  * before it. The bus is package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
