package org.apache.spark

/** The one non-public call the harness makes: Spark delivers listener
  * events on background queues, so the counters of an operation are
  * complete only once those queues are empty. Spark's own test suites
  * wait the same way; there is no public equivalent. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
