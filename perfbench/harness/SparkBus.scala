package org.apache.spark

/** The one non-public Spark call the benchmark makes: waiting until every
  * listener queue has delivered the events posted so far. Spark's own
  * test suites use the same call; without it, the events of a job that
  * just finished can still be queued when the harness reads its counters,
  * and they would be charged to the next operation.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
