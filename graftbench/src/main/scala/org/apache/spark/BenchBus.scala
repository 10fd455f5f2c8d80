package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The harness drains the bus at pass boundaries so every task-end event
  * of a pass is counted before the pass's totals are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
