package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a pass's job, stage and task records are complete when it is read.
  * Lives in this package because `listenerBus` is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
