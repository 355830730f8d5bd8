package org.apache.spark

/** Blocks until Spark has delivered every queued listener event, so a
  * traced round's job and stage records are complete before they are
  * read. The listener bus is package-private to Spark. */
object GraftBenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
