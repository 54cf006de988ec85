package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** The listener bus delivers task events asynchronously; its drain call
  * is private[spark], so the benchmark reaches it from inside the
  * org.apache.spark package tree. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
