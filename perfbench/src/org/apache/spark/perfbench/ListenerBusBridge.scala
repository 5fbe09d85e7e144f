package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; per-layer counts are only complete
  * once it has delivered every event posted so far. Draining it needs
  * the `private[spark]` bus, hence this one-method bridge.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
