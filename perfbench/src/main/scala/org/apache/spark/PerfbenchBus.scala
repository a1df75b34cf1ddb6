package org.apache.spark

/** Flush point for the benchmark's listener ledger: blocks until every
  * listener event posted so far has been delivered, so the jobs, tasks
  * and bytes of an operation are all on the books before the harness
  * reads them. The listener itself is registered through the public
  * `SparkContext.addSparkListener`; only this wait needs the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
