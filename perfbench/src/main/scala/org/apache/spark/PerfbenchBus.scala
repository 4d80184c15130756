package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains it
  * at operation boundaries so every job and stage event of an operation is
  * recorded before the next one starts. `listenerBus` is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
