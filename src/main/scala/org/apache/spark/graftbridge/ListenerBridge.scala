package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` and `LiveListenerBus.waitUntilEmpty` are
  * `private[spark]`; `graft.Executions` needs a drain barrier so the
  * events posted by the last job (stage completions, SQL execution ends)
  * are delivered before they are read. Compiled inside the
  * `org.apache.spark` hierarchy to re-export just that one call.
  *
  * VERSION PIN: verified against Spark 4.1.2. If Spark renames
  * `listenerBus`/`waitUntilEmpty`, only that drain barrier is affected —
  * telemetry and plan capture would miss late events, never corrupt
  * query results.
  */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
