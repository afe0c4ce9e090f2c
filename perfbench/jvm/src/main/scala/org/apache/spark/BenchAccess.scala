package org.apache.spark

/** The Spark internal the traced run needs, reached from Spark's own package
  * because it is `private[spark]`. */
object BenchAccess {

  /** Blocks until every listener has seen every event posted so far, so the
    * events of one operation are attributed before the next one starts. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
