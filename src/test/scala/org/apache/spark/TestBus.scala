package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a test's listener has seen every job, stage and task it asserts on.
  * Lives in this package because `listenerBus` is `private[spark]`. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
