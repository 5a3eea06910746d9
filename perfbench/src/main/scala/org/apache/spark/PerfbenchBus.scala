package org.apache.spark

/** Lets the benchmark wait until every listener has seen the events posted
  * so far. Listener callbacks run on Spark's asynchronous bus, so counters
  * read right after an action would otherwise miss its last tasks. The bus
  * is package-private, hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
