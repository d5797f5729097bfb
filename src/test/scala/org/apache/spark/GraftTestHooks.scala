package org.apache.spark

/** Test-only bridge to `private[spark]` context state:
  *  - `SparkContext.checkpointDir`: PinSpec must RESTORE the unset state
  *    after exercising the reliable-checkpoint path — the test session
  *    is shared across suites, and leaving a dir set would silently flip
  *    every later pin to disk;
  *  - the listener bus: plan specs read query executions through a
  *    `QueryExecutionListener`, which the bus calls asynchronously.
  */
object GraftTestHooks {
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** Block until every event posted so far has reached its listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
