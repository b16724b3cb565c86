package org.apache.spark

/** Package-private Spark hooks the specs need, reached from inside
  * `org.apache.spark`.
  */
object GraftTestHooks {
  /** Blocks until every listener event posted so far has been delivered,
    * so listener-side counts are complete before a spec reads them.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
