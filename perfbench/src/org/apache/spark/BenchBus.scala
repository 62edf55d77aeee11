package org.apache.spark

/** Bridge to the `private[spark]` listener bus: the traced run must see
  * every job, stage and task event of an op before it derives the op's
  * per-layer numbers, and listener delivery is asynchronous. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
