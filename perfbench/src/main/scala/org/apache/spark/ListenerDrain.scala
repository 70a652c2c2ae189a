package org.apache.spark

/** Listener events arrive asynchronously. The bus's drain is private to
  * Spark, so this shim lives in Spark's package: after an action returns,
  * the benchmark waits until every task and stage event of that action has
  * reached its listener before reading the metrics.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
