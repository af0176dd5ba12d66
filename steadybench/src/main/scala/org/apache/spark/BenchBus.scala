package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered. The traced run calls it at the end of each op, so that an
  * op's listener events are all counted before the next op starts.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
