// In Spark's namespace only to reach the listener bus, which is
// private[spark]: the traced run must see every event posted by the
// calls it measured before it sums them.
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
