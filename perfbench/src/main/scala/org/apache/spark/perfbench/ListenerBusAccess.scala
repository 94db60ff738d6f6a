package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The traced run
  * drains it at the end of every op, so each op's listener events are
  * attributed to that op (valid because the benchmark has one client).
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = {
    sc.listenerBus.waitUntilEmpty(60000L)
    ()
  }
}
