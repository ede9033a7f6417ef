package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted so
  * far has been delivered, so the counters it reads at a span's end
  * cover exactly the work done inside the span. The listener bus is
  * package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
