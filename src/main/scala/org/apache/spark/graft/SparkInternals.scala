package org.apache.spark.graft

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SQLExecution

/** Narrow bridge to `private[spark]` internals the measurement tools and
  * [[graft.Overlap]] need. Lives under `org.apache.spark` so the Scala
  * compiler grants the package-private access (the standard pattern
  * Spark's own downstream test harnesses use); keep the surface small so
  * it stays auditable.
  */
object SparkInternals {

  /** Deterministically drain the async listener bus: block until every
    * queued event (task-end metrics included) has been delivered, instead
    * of sleeping a fixed interval and hoping. A fixed sleep is racy — on
    * a loaded box straggler `onTaskEnd` events arrive after it,
    * undercounting listener-accumulated shuffle records, which can push a
    * ScaleGate query under the record-floor exemption or mask a genuine
    * super-linear shuffle (both false PASSes of the gate's "deterministic"
    * signal). Bounded wait: a bus that cannot drain in `timeoutMs` is a
    * real fault worth surfacing, so the TimeoutException propagates.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** A copy of the calling thread's job-local properties (inherited ones
    * included) for another thread to run part of the caller's work under,
    * without the SQL execution ids: that work starts executions of its own.
    */
  def legProperties(sc: SparkContext): Properties = {
    val src = sc.getLocalProperties
    val p = new Properties()
    src.stringPropertyNames.forEach(k => p.setProperty(k, src.getProperty(k)))
    p.remove(SQLExecution.EXECUTION_ID_KEY)
    p.remove(SQLExecution.EXECUTION_ROOT_ID_KEY)
    p
  }

  /** Runs `body` on the calling thread with exactly `props` as its job-local
    * properties, and leaves the thread with none afterwards.
    */
  def withLocalProperties[T](sc: SparkContext, props: Properties)(body: => T): T = {
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(new Properties())
  }
}
