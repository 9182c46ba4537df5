package org.apache.spark

/** The listener bus delivers events asynchronously; a traced pass must
  * see every event of its jobs before it is attributed. `listenerBus`
  * is package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
