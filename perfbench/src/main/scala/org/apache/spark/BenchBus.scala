package org.apache.spark

/** The listener bus delivers events asynchronously; a span's counters are
  * complete only after the bus has drained. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
