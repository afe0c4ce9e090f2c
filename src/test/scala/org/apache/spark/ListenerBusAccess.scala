package org.apache.spark

/** The `private[spark]` listener-bus hook specs need, reached from Spark's
  * own package. */
object ListenerBusAccess {

  /** Blocks until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
