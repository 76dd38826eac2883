package org.apache.spark

/** Wait until every listener event posted so far has been delivered, so
  * the benchmark's scheduler counts are complete when it reads them
  * (`waitUntilEmpty` is private to the `spark` package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
