package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener has seen every job started before the call. The bus is
  * package-private, hence this file's package.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
