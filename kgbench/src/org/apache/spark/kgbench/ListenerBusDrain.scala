package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark reads a span's
  * stage metrics only after every event posted so far was delivered.
  * `listenerBus` is private to the spark package, hence this file's
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
