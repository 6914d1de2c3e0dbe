package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. Spark posts listener
  * events asynchronously; the tracer waits for the queue to empty at each
  * operation boundary so that every job, task and query event of one
  * operation is counted for that operation and not the next.
  * `listenerBus` is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
