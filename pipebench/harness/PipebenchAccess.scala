package org.apache.spark

/** The listener bus delivers events asynchronously; the harness waits
  * for it to empty before it reads what a traced pass recorded. */
object PipebenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
