package org.apache.spark

/** Drains Spark's listener bus, which is package-private. The traced
  * run calls it between operations so that every job, stage, task and
  * query-execution event of an operation has been delivered before its
  * counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
