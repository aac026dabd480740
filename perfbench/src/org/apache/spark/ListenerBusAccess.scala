package org.apache.spark

/** The harness's one use of Spark internals: block until the listener bus
  * has delivered every event posted so far, so that a listener can be
  * removed without losing the events of the jobs that already ran. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
