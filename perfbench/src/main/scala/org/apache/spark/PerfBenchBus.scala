package org.apache.spark

/** Drains Spark's asynchronous listener bus, so every event a finished
  * query posted has reached the benchmark's listeners before the
  * benchmark moves on to the next query. The bus is `private[spark]`. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
