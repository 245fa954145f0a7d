package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Exposes the `private[spark]` listener-bus drain to graft's profiling
  * tools. Spark posts a stage's completion event before the action that
  * ran it returns, but delivers it to listeners on another thread; after
  * this returns, every event posted so far has been delivered, so a
  * listener holds the finished job's stages without a guessed sleep. */
object ListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
