package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains it
  * after each statement so job and task counts land on the statement that
  * caused them. `listenerBus` is package-private to Spark, hence this file's
  * package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
