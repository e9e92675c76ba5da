package org.apache.spark

/** Waits until every listener event posted so far has been delivered —
  * the benchmark reads its layer listener only after this returns.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
