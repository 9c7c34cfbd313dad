package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far (job starts, SQL execution ends feeding
  * `QueryExecutionListener`s) has reached its listeners, so a spec can
  * count jobs or read captured plans without sleeping.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
