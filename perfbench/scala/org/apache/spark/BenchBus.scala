package org.apache.spark

/** Drains Spark's asynchronous listener bus, so a benchmark trace that is
  * read right after a job holds every task-end event of that job. The bus
  * is package-private to Spark, hence this one-method bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
