package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the benchmark waits
  * for it to empty before it reads what its listeners collected.
  * `listenerBus` is private to the `org.apache.spark` package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
