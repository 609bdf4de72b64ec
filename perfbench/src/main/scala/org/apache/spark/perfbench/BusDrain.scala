package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain: returns once every event posted so
  * far (jobs, stages, tasks, SQL executions) has reached every listener.
  * The bus is `private[spark]`, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
