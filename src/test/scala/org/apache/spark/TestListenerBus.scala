package org.apache.spark

/** Lets a spec wait for Spark's asynchronous listener bus, so every job,
  * stage and query-execution event of a block is delivered before the
  * spec reads what its listener saw. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
