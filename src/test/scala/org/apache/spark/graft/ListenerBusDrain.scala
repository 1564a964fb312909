package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event — after
  * it returns, every QueryExecutionListener callback for the queries run
  * so far has completed. The bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
