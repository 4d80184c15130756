package org.apache.spark

/** The listener bus delivers events asynchronously; tests that count jobs
  * drain it so every event of the work under test has been delivered.
  * `listenerBus` is package-private.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
