package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to the `spark` package.
  * Listener events arrive asynchronously; the benchmark drains the bus after
  * each traced op so every job, stage, task and query event of that op has
  * been delivered before the op is attributed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
