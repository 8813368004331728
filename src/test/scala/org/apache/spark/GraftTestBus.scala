package org.apache.spark

/** Test-only bridge to the `private[spark]` listener bus: lets specs
  * drain queued events deterministically before attaching a counting
  * listener (the async bus delivers queued events to listeners attached
  * at drain time, so a sleep is a race, not a barrier).
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Sessions' streaming listener buses registered with `sc`'s bus. */
  def streamingBuses(sc: SparkContext): Int = sc.listenerBus
    .findListenersByClass[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus]()
    .size
}
