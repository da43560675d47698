package org.apache.spark

/** The one Spark-internal call the benchmark makes: block until every
  * queued listener event (jobs, stages, tasks, SQL executions) has been
  * delivered, so counts read afterwards are complete instead of racing
  * the asynchronous listener bus. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
