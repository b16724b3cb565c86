package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The few package-private Spark hooks the harness needs, reached from
  * inside `org.apache.spark.sql` so the engine itself is not involved.
  */
object Internals {
  /** Blocks until every listener event posted so far has been delivered,
    * so per-query counters are complete before they are read.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Drops every loaded state-store provider a finished stream left in
    * this JVM; they reload lazily on the next stateful start.
    */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
