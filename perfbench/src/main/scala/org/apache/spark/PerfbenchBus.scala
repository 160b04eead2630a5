package org.apache.spark

/** Lets the harness wait for Spark's asynchronous listener bus, so a
  * pass's job, stage and query-execution events are all delivered
  * before the pass is summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
