package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain: the one `private[spark]` hook the benchmark needs,
  * so a traced run reads complete job/stage records before it reports.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
