package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** The listener bus drain, which Spark keeps package-private. Task-end
  * events reach listeners asynchronously; the harness drains the bus before
  * it reads per-job metrics, so no event of a finished job is missed. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
