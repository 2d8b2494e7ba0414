package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs that count Spark events through a listener must read the count
  * only after the asynchronous listener bus has delivered every event;
  * the drain is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
