package graft.tools

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.graft.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.SqlInternals

/** Spark counters of one span. Shuffle records and bytes are the ones
  * written; run, CPU and GC ms are summed over the span's tasks; `planMs`
  * sums the planning phases (`queryExecution.tracker`) of the span's SQL
  * executions.
  */
final case class SpanCounters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleRecords: Long = 0, shuffleBytes: Long = 0, runMs: Long = 0,
    cpuMs: Long = 0, gcMs: Long = 0, planMs: Long = 0) {
  def +(o: SpanCounters): SpanCounters = SpanCounters(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, shuffleRecords + o.shuffleRecords,
    shuffleBytes + o.shuffleBytes, runMs + o.runMs, cpuMs + o.cpuMs,
    gcMs + o.gcMs, planMs + o.planMs)

  /** The counters as JSON fields, without braces. */
  def jsonFields: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuffle_records":$shuffleRecords,""" +
      s""""shuffle_bytes":$shuffleBytes,"run_ms":$runMs,"cpu_ms":$cpuMs,"gc_ms":$gcMs,"plan_ms":$planMs"""
}

/** One completed stage attempt, with the span its job ran in. */
final case class StageRec(span: String, id: Int, name: String, wallMs: Long,
    runMs: Long, cpuMs: Long, gcMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long, tasks: Int) {
  def counters: SpanCounters = SpanCounters(stages = 1, tasks = tasks,
    shuffleRecords = shuffleWriteRecords, shuffleBytes = shuffleWriteBytes,
    runMs = runMs, cpuMs = cpuMs, gcMs = gcMs)
}

/** Per-span Spark counters for the measurement tools (`Bench`, [[Probe]]).
  * [[span]] names the calling thread's work through a job-local property;
  * the listener attributes each job, and each stage the job submits, to
  * the span named in the properties the job carried. A job with no span
  * lands in [[QueryTrace.Unattributed]], which is reported like any span.
  * Threads that run part of a span's work must carry the caller's
  * properties (Spark's own broadcast and subquery threads do, and so does
  * [[graft.Overlap]]). Counts are read only after the listener bus drains.
  */
final class QueryTrace private (sc: SparkContext) extends SparkListener {
  import QueryTrace._

  private val jobs = mutable.LinkedHashMap[String, Long]()
  private val stageSpan = mutable.Map[Int, String]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val executionSpan = mutable.Map[Long, String]()
  private val planByExecution = mutable.Map[Long, Long]()
  private var all = SpanCounters()

  /** Runs `body` with the calling thread's jobs attributed to `name`. */
  def span[T](name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    try body finally sc.setLocalProperty(SpanKey, outer)
  }

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).getOrElse(Unattributed)

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    installed.synchronized(installed.remove(sc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobs(span) = jobs.getOrElse(span, 0L) + 1
    all = all.copy(jobs = all.jobs + 1)
    Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(_.toLongOption).foreach(executionSpan.getOrElseUpdate(_, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
    val rec = StageRec(stageSpan.remove(i.stageId).getOrElse(Unattributed), i.stageId,
      i.name.takeWhile(_ != '\n').take(90), wall, m.executorRunTime,
      m.executorCpuTime / 1000000, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      i.numTasks)
    stages += rec
    all += rec.counters
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val ms = SqlInternals.planMs(end)
      synchronized {
        planByExecution(end.executionId) = ms
        all = all.copy(planMs = all.planMs + ms)
      }
    case _ =>
  }

  /** Counters per span, in the order the spans first ran a job, with
    * [[QueryTrace.Unattributed]] last; drains the listener bus first.
    */
  def report(): Seq[(String, SpanCounters)] = {
    SparkInternals.drainListenerBus(sc)
    synchronized {
      val out = mutable.LinkedHashMap[String, SpanCounters]()
      def add(span: String, c: SpanCounters): Unit =
        out(span) = out.getOrElse(span, SpanCounters()) + c
      jobs.foreach { case (s, n) => add(s, SpanCounters(jobs = n)) }
      stages.foreach(r => add(r.span, r.counters))
      planByExecution.foreach { case (id, ms) =>
        add(executionSpan.getOrElse(id, Unattributed), SpanCounters(planMs = ms)) }
      val un = out.remove(Unattributed).getOrElse(SpanCounters())
      out.toSeq :+ (Unattributed -> un)
    }
  }

  /** The counters of every job seen, whatever its span; drains first. */
  def totals(): SpanCounters = {
    SparkInternals.drainListenerBus(sc)
    synchronized(all)
  }

  /** The completed stages of `span`, in completion order; drains first. */
  def stagesOf(span: String): Seq[StageRec] = {
    SparkInternals.drainListenerBus(sc)
    synchronized(stages.filter(_.span == span).toSeq)
  }
}

object QueryTrace {
  /** The job-local property that names a job's span. */
  val SpanKey = "graft.trace.span"
  /** The span of jobs that carried no [[SpanKey]]. */
  val Unattributed = "unattributed"

  private val installed = mutable.Map[SparkContext, QueryTrace]()

  /** The trace of `sc`, added as a listener on the first call and
    * returned as is after that.
    */
  def install(sc: SparkContext): QueryTrace = installed.synchronized {
    installed.getOrElseUpdate(sc, {
      val t = new QueryTrace(sc)
      sc.addSparkListener(t)
      t
    })
  }
}
