package org.apache.spark

/** The listener bus is `private[spark]`; this is the one place the benchmark
  * reaches into it, so per-rep counters are read only after every event of
  * the rep has been delivered (instead of racing the bus with a sleep). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
