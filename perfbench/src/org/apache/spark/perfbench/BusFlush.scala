package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the listener bus so every event of the work done so far has
  * reached the benchmark's listeners (`listenerBus` is
  * `private[spark]`, hence this bridge inside the spark package). */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
