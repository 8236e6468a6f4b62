package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * event posted so far, so its listeners' counts are complete when read.
  * The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
