package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * a spec's listener has seen all of an operation's jobs before the spec
  * reads them. The bus is `private[spark]`, hence this object's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
