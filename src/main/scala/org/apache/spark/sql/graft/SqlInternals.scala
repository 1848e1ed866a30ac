package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the `private[sql]` query execution that Spark attaches to an
  * execution-end event; lives under `org.apache.spark.sql` for the access.
  */
object SqlInternals {

  /** Summed planning-phase ms (`queryExecution.tracker`) of the finished
    * execution; 0 when the event carries no query execution.
    */
  def planMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
