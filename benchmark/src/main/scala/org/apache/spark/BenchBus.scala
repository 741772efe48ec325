package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * counter read right after an action sees all of that action's tasks.
  * The bus is package-private to Spark, hence the package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
