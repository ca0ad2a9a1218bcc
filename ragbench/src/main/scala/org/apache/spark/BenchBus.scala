package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far, so counters read after a window cover all of it.
  * The bus is package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
