package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Timing samples in ms, keyed by span name. Always on: the end-to-end
  * metrics are read from here, so they cost one `nanoTime` pair per call.
  */
final class Samples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def get(k: String): Seq[Double] = m.get(k).map(_.toSeq).getOrElse(Nil)
  def clear(): Unit = m.clear()
}

object Stat {
  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }
  /** The usual median: the mean of the two middle values of an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val ladder = Seq(75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile with at least 10 samples above its
    * rank: (percentile, value, sample count). None below 40 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val n = xs.size
    ladder.filter(p => n - math.ceil(p / 100.0 * n).toInt >= 10).lastOption
      .map(p => (p, pct(xs, p), n))
  }
}

/** One recorded span: wall-clock ms bounds for job attribution, nanoTime
  * bounds for durations.
  */
final case class SpanRec(id: Int, parent: Int, name: String, layer: String,
    trace: String, startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Times every layer call. With `record` on it also keeps each span in
  * memory (written out at exit) and tags the calling thread's Spark jobs
  * with the span's layer and id through local properties, so
  * [[LayerListener]] can map jobs to layers. With `record` off only the
  * timing samples are kept.
  */
final class Tracer(sc: SparkContext, val samples: Samples) {
  var record = false
  private var traceId = ""
  private var nextId = 1
  private var stack: List[Int] = Nil
  private val layers = mutable.Map[Int, String]()
  val spans = mutable.ArrayBuffer[SpanRec]()

  def trace(id: String): Unit = traceId = id

  def span[T](name: String, layer: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(0)
    val id = nextId
    nextId += 1
    if (record) {
      stack = id :: stack
      layers(id) = layer
      sc.setLocalProperty(LayerListener.LayerKey, layer)
      sc.setLocalProperty(LayerListener.SpanKey, id.toString)
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      samples.add(name, (t1 - t0) / 1e6)
      if (record) {
        spans += SpanRec(id, parent, name, layer, traceId, startMs,
          System.currentTimeMillis(), t0, t1)
        stack = stack.tail
        val (l, s) = stack.headOption match {
          case Some(p) => (layers(p), p.toString)
          case None => (null, null)
        }
        sc.setLocalProperty(LayerListener.LayerKey, l)
        sc.setLocalProperty(LayerListener.SpanKey, s)
      }
    }
  }

  /** Spans of the measured work, without the harness's checks. */
  def unitSpans: Seq[SpanRec] = spans.toSeq.filter(_.layer != Tracer.Harness)

  /** Self time per unit span: its duration minus its children's. */
  def selfMs: Seq[(SpanRec, Double)] = {
    val us = unitSpans
    val childMs = us.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    us.map(s => s -> (s.ms - childMs.getOrElse(s.id, 0.0)))
  }
}

object Tracer {
  /** Layer of the benchmark's own checks. */
  val Harness = "harness"
}

/** Per-layer Spark counters. Jobs are attributed after the run, once the
  * listener bus is drained: a job counts for the layer of the span named
  * in its local properties only if it started while that span was open.
  * A job with no span, or one carrying a span that had already closed (a
  * pool thread that inherited the properties of the span it was created
  * in), lands in `unattributed`, which is reported like any layer.
  */
final class LayerListener extends SparkListener {
  private final case class Job(layer: String, span: Int, timeMs: Long, stages: Seq[Int])
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageTasks = mutable.Map[Int, LayerAcc]()
  private val completedStages = mutable.Set[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val layer = p.flatMap(x => Option(x.getProperty(LayerListener.LayerKey))).orNull
    val span = p.flatMap(x => Option(x.getProperty(LayerListener.SpanKey))).map(_.toInt).getOrElse(0)
    jobs += Job(layer, span, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    completedStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageTasks.getOrElseUpdate(e.stageId, new LayerAcc)
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Counters per layer for jobs started inside [fromMs, toMs]. Jobs of
    * `skip` spans (the harness's checks) are left out entirely.
    */
  def byLayer(spans: Seq[SpanRec], skip: Set[Int], fromMs: Long, toMs: Long)
      : Map[String, LayerAcc] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val out = mutable.Map[String, LayerAcc]()
    val seen = mutable.Set[Int]()
    jobs.filter(j => j.timeMs >= fromMs && j.timeMs <= toMs && !skip(j.span)).foreach { j =>
      val layer = byId.get(j.span) match {
        case Some(s) if j.layer != null && j.timeMs >= s.startMs && j.timeMs <= s.endMs => s.layer
        case _ => "unattributed"
      }
      val a = out.getOrElseUpdate(layer, new LayerAcc)
      a.jobs += 1
      // a stage shared by two jobs (reused shuffle) counts once, first job wins
      j.stages.filter(seen.add).foreach { st =>
        if (completedStages(st)) a.stages += 1
        stageTasks.get(st).foreach { t =>
          a.tasks += t.tasks; a.runMs += t.runMs; a.cpuNs += t.cpuNs
          a.gcMs += t.gcMs; a.shuffleBytes += t.shuffleBytes
        }
      }
    }
    out.toMap
  }
}

/** Spark counters of one layer (or of one stage, before attribution). */
final class LayerAcc {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleBytes = 0L
}

object LayerListener {
  val LayerKey = "perfbench.layer"
  val SpanKey = "perfbench.span"
  val Layers = Seq("streaming", "journal", "pipeline", "ingest", "reads", "queries", "unattributed")
}
