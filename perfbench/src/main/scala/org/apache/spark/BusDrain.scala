package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so the harness reads an operation's stage metrics only after they
  * have all arrived. The listener bus is `private[spark]`, hence the
  * package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
