package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. The
 * benchmark drains it at span boundaries so that every listener event of an
 * action is attributed before the next action starts. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
