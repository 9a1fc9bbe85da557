package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so per-op counters
  * read after an op include all of that op's task and job events. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
