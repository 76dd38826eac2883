package org.apache.spark

/** Wait until every listener event posted so far has been delivered
  * (`waitUntilEmpty` is private to the `spark` package). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
