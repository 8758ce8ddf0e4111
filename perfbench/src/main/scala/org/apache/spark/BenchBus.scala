package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so task sums read after a pass are complete. The listener
  * bus is `private[spark]`; this file is compiled into that package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
