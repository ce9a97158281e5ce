package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. Spark delivers listener events asynchronously, so without
  * this the last job's task-end events can arrive after the action that
  * ran them returned. `listenerBus` is package-private, hence the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
