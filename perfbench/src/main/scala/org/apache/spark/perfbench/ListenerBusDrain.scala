package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The benchmark reads
  * its counters only after every event posted so far has been handled,
  * and `waitUntilEmpty` is visible only inside the `org.apache.spark`
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
