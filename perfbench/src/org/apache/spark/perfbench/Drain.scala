package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package for its package-private listener bus: blocks
  * until every event posted so far has reached the listeners, so metrics
  * read after a job include all of that job's task ends. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
