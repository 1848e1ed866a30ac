package perfbench

import java.io.File
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

/** The benchmark's JVM side. Sets up the session `SetupReps` times, runs one
  * workload, and writes its measurements and verdicts as JSON to `--out`;
  * `run.py` adds the board's oracle compare and prints the result line.
  * See `perfbench/NOTES.md` for the workloads, metrics and checks.
  */
object Main {
  val Cpus = 4
  /** Set-ups per run; the first, in a cold JVM, is the median's outlier. */
  val SetupReps = 5
  val Workloads = Seq("daemon", "board_mix")

  final case class Opts(workload: String, seed: Long, trace: Boolean,
      work: String, out: String, data: String, selftest: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m.get("trace").contains("1"),
      m("work"), m("out"), m.getOrElse("data", ""), m.get("selftest").contains("1"))
  }

  def session(work: String): SparkSession = {
    // graft.Verify's session: the shared local builder, AQE, and the
    // excluded rule PipelineApp excludes too; only paths are ours
    val s = graft.Sessions.localBuilder(Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.catalyst.GraftExtensions.register(s)
    s
  }

  /** Set-up warm-up on the workload's hot paths: two board queries, or
    * one staged ingest of a 30k-row ticker file and a warehouse read.
    */
  def warmUp(spark: SparkSession, o: Opts, i: Int): Unit = o.workload match {
    case "board_mix" =>
      Seq("a5_max_agg", "b10_topk").foreach(n => graft.SparkEntry.queries(n)(spark, o.data).collect())
    case _ =>
      val wh = s"${o.work}/warm-$i"
      graft.ingest.TickerIngest.stage(spark, Seq(warmFile(o).getPath), wh)
      graft.ingest.TickerIngest.warehouse(spark, s"$wh/_staging").filter("sequence = 7").collect()
      Files.deleteTree(new File(wh))
  }

  /** The warm-up's input file, generated once per run outside the set-up time. */
  private def warmFile(o: Opts): File = {
    val f = new File(s"${o.work}/warm-input/AVA-USDT_PST_2023-06-01")
    if (!f.exists()) {
      val day = java.time.LocalDate.of(2023, 6, 1)
      TickerGen.write(new java.util.SplittableRandom(o.seed), f, new File(s"${o.work}/warm-input.tmp"),
        "AVA-USDT", day, 1L, 30000, TickerGen.dayStartMs(day), TickerGen.dayStartMs(day) + 86400000L,
        Malformed(1, 1))
    }
    f
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    // start the global pool's threads outside any span, so they carry no
    // layer properties (see LayerListener)
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence((1 to 4 * Cpus).map(_ => Future(Thread.sleep(20)))), 30.seconds)

    if (o.workload != "board_mix") warmFile(o)
    var spark: SparkSession = null
    val setupMs = (1 to SetupReps).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(o.work)
      val t1 = System.nanoTime()
      warmUp(spark, o, i)
      val t2 = System.nanoTime()
      System.err.println(f"[perfbench] setup $i: session ${(t1 - t0) / 1e9}%.2f s, warm-up ${(t2 - t1) / 1e9}%.2f s")
      (t2 - t0) / 1e6
    }
    val out =
      if (o.selftest) SelfTest.run(spark, o)
      else new Run(spark, o, setupMs).result()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), out)
    spark.stop()
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** One measured run of a workload. */
final class Run(spark: SparkSession, o: Main.Opts, setupMs: Seq[Double]) {
  import Main._
  private val sc = spark.sparkContext
  private val samples = new Samples
  private val tr = new Tracer(sc, samples)
  private val verdicts = mutable.ArrayBuffer[FileVerdict]()
  private lazy val board = new Board(spark, tr, o.data)

  private final case class PhaseResult(wallMs: Double, phase: Phase,
      samples: Map[String, Seq[Double]]) {
    def latencyMs: Seq[Double] = phase.latencyMs.toSeq
  }

  private val spanNames = Seq("publish", "streaming.catchUp", "journal.advance",
    "pipeline.processReady", "ingest.stage", "pipeline.cleanup", "journal.compact",
    "ingest.compact", "reads.point", "reads.ohlc", "queries.build", "queries.exec")

  /** One phase of the workload on fresh directories, doing a fixed amount
    * of work. `warmUp` runs the daemon's unmeasured first backlog round.
    * `measure` runs the measured work: the daemon's backlog rounds and then
    * its trickle cycles, or one pass over the board's queries.
    */
  private def phase(tag: String, warmUp: Boolean, measure: Boolean): PhaseResult = {
    samples.clear()
    val p = new Phase
    o.workload match {
      case "daemon" =>
        val w = new DaemonLoad(spark, tr, s"${o.work}/$tag", o.seed, p)
        if (warmUp) (1 to Ingest.WarmRounds).foreach(_ => w.backlogRound(measured = false))
        samples.clear()
        if (measure) {
          (1 to Ingest.Rounds).foreach(_ => w.backlogRound(measured = true))
          (1 to Ingest.Cycles).foreach(_ => w.trickleCycle())
        }
        w.finish()
        Files.deleteTree(new File(s"${o.work}/$tag"))
      case "board_mix" =>
        if (measure) {
          val ms = board.pass()
          p.units = ms.size
          p.unitMs ++= ms
          p.latencyMs ++= ms
        }
    }
    verdicts ++= p.verdicts
    PhaseResult(p.unitMs.sum + p.cycleMs.sum, p, spanNames.map(n => n -> samples.get(n)).toMap)
  }

  def result(): String = {
    val boardPass = o.workload == "board_mix"
    val (main, traced) =
      if (!o.trace) (phase("a", warmUp = true, measure = true), None)
      else {
        // warm the JVM (the board's cold pass, the daemon's first round),
        // then a traced phase B and an untraced phase C of equal work:
        // per-layer metrics come from B, the overhead from B's wall
        // against C's
        phase("a", warmUp = true, measure = boardPass)
        val listener = new LayerListener
        val plan = new PlanListener
        sc.addSparkListener(listener)
        if (boardPass) spark.listenerManager.register(plan)
        tr.record = true
        val fromMs = System.currentTimeMillis()
        val b = phase("b", warmUp = false, measure = true)
        val toMs = System.currentTimeMillis()
        tr.record = false
        org.apache.spark.graft.SparkInternals.drainListenerBus(sc)
        spark.listenerManager.unregister(plan)
        val c = phase("c", warmUp = false, measure = true)
        val unit = tr.unitSpans.map(_.id).toSet
        (b, Some((b, c, listener.byLayer(tr.spans.toSeq, tr.spans.map(_.id).filterNot(unit).toSet,
          fromMs, toMs), plan)))
      }
    val boardJson = if (boardPass) board.writeOutputs(s"${o.work}/board-out") else "null"
    val checkLogic = SelfTest.inMemory()
    val failed = verdicts.count(!_.ok)
    val unexpected = verdicts.filter(v => !v.ok && !v.defect)
    Json.obj(
      "workload" -> Json.str(o.workload),
      "attempted" -> (if (boardPass) board.executions else verdicts.size).toString,
      "failed" -> failed.toString,
      "known_defect" -> verdicts.count(v => !v.ok && v.defect).toString,
      "unexpected" -> unexpected.size.toString,
      "unexpected_notes" -> Json.arr(unexpected.take(5).map(v =>
        Json.str(s"${v.name}: ${v.failures.mkString("; ")}"))),
      "check_logic_failures" -> Json.arr(checkLogic.map(Json.str)),
      "e2e" -> (if (o.trace) "null" else e2e(main)),
      "report" -> report(main),
      "per_layer" -> traced.map { case (b, c, layers, plan) => perLayer(b, c, layers, plan) }.getOrElse("null"),
      "spans" -> traced.map(_ => spansJson).getOrElse("null"),
      "board" -> boardJson)
  }

  /** Backlog rows committed per second of drain over the measured rounds
    * (daemon), queries per second of query time (board).
    */
  private def throughput(a: PhaseResult): Double = o.workload match {
    case "board_mix" => a.phase.units / (a.wallMs / 1000)
    case _ => a.phase.backlogRows / (a.phase.drainMs.sum / 1000)
  }

  /** The end-to-end metrics of BENCHMARK.json. */
  private def e2e(a: PhaseResult): String = Json.obj(
    "setup_s" -> Json.metric(Stat.median(setupMs) / 1000, "s"),
    "latency_p50_ms" -> Json.metric(Stat.median(a.latencyMs), "ms"),
    "wall_s" -> Json.metric(a.wallMs / 1000, "s"))

  private def tailJson(xs: Seq[Double]): String = Stat.tail(xs) match {
    case Some((p, v, n)) => Json.obj("value" -> Json.num(v), "unit" -> Json.str("ms"),
      "percentile" -> Json.num(p), "samples" -> n.toString)
    case None => Json.obj("value" -> "null", "unit" -> Json.str("ms"),
      "percentile" -> "null", "samples" -> xs.size.toString)
  }

  /** Every end-to-end figure the workload defines, by the names of the
    * benchmark's notes; printed to stderr, not gated.
    */
  private def report(a: PhaseResult): String = {
    val f = mutable.ArrayBuffer[(String, String)]()
    val p = a.phase
    f += "setup_s" -> Json.metric(Stat.median(setupMs) / 1000, "s")
    f += "setup_runs_s" -> Json.arr(setupMs.map(x => Json.num(x / 1000)))
    f += "wall_s" -> Json.metric(a.wallMs / 1000, "s")
    f += "peak_rss_mb" -> Json.metric(peakRssMb, "MB")
    f += "failed_share" -> Json.metric(
      if (verdicts.isEmpty) 0.0 else verdicts.count(!_.ok).toDouble / verdicts.size, "share")
    o.workload match {
      case "board_mix" =>
        f += "query_p50_ms" -> Json.metric(Stat.median(a.latencyMs), "ms")
        f += "query_tail_ms" -> tailJson(a.latencyMs)
        f += "queries_per_s" -> Json.metric(throughput(a), "1/s")
        f += "query_ms" -> Json.obj(board.order.zip(a.latencyMs).map { case (n, ms) => n -> Json.num(ms) }: _*)
      case _ =>
        f += "backlog_rounds" -> p.units.toString
        f += "rows_per_s" -> Json.metric(throughput(a), "1/s")
        f += "files_per_s" -> Json.metric(Stat.median(p.filesPerS.toSeq), "1/s")
        f += "drain_p50_ms" -> Json.metric(Stat.median(p.drainMs.toSeq), "ms")
        f += "trickle_cycles" -> p.cycleMs.size.toString
        f += "cycle_p50_ms" -> Json.metric(Stat.median(p.cycleMs.toSeq), "ms")
        f += "cycle_rows_per_s" -> Json.metric(p.cycleRows / (p.cycleMs.sum / 1000), "1/s")
        f += "freshness_p50_ms" -> Json.metric(Stat.median(a.latencyMs), "ms")
        f += "freshness_tail_ms" -> tailJson(a.latencyMs)
        f += "read_p50_ms" -> Json.metric(Stat.median(p.readMs.toSeq), "ms")
        f += "read_tail_ms" -> tailJson(p.readMs.toSeq)
        f += "stored_bytes_per_row" -> Json.metric(
          p.storedBytes.toDouble / math.max(1L, p.storedRows), "B")
    }
    Json.obj(f.toSeq: _*)
  }

  private def perLayer(b: PhaseResult, c: PhaseResult, layers: Map[String, LayerAcc],
      plan: PlanListener): String = {
    val f = mutable.ArrayBuffer[(String, String)]()
    // totals over the traced phase, whose work is fixed
    def put(name: String, v: Double, unit: String) = f += name -> Json.metric(v, unit)
    def s(n: String) = b.samples(n).sum
    put("streaming.discover_ms", s("streaming.catchUp"), "ms")
    put("journal.advance_ms", s("journal.advance"), "ms")
    put("pipeline.process_self_ms", s("pipeline.processReady") - s("ingest.stage"), "ms")
    put("journal.event_files", b.phase.journalFiles.toDouble, "count")
    put("journal.event_rows", b.phase.journalRows.toDouble, "count")
    put("ingest.stage_ms", s("ingest.stage"), "ms")
    Seq("ingest.rows" -> "count", "ingest.corrupt_rows" -> "count", "ingest.input_bytes" -> "B",
      "ingest.output_files" -> "count", "ingest.output_bytes" -> "B")
      .foreach { case (k, unit) => put(k, b.phase.counters(k), unit) }
    put("pipeline.cleanup_ms", s("pipeline.cleanup"), "ms")
    put("journal.compact_ms", s("journal.compact"), "ms")
    put("ingest.compact_ms", s("ingest.compact"), "ms")
    put("ingest.compact_files_before", b.phase.counters("ingest.compact_files_before"), "count")
    put("ingest.compact_files_after", b.phase.counters("ingest.compact_files_after"), "count")
    put("reads.point_ms", s("reads.point"), "ms")
    put("reads.ohlc_ms", s("reads.ohlc"), "ms")
    put("reads.files_scanned", b.phase.counters("reads.files_scanned"), "count")
    put("queries.build_ms", s("queries.build"), "ms")
    put("queries.exec_ms", s("queries.exec"), "ms")
    put("queries.plan_ms", plan.planMs, "ms")
    val qRun = layers.get("queries").map(_.runMs).getOrElse(0L)
    put("queries.idle_core_ms", (s("queries.build") + s("queries.exec")) * Cpus - qRun, "ms")
    LayerListener.Layers.foreach { l =>
      val a = layers.getOrElse(l, new LayerAcc)
      put(s"$l.jobs", a.jobs.toDouble, "count")
      put(s"$l.stages", a.stages.toDouble, "count")
      put(s"$l.tasks", a.tasks.toDouble, "count")
      put(s"$l.tasks_per_stage", if (a.stages == 0) 0.0 else a.tasks.toDouble / a.stages, "count")
      put(s"$l.executor_run_ms", a.runMs.toDouble, "ms")
      put(s"$l.executor_cpu_ms", a.cpuNs / 1e6, "ms")
      put(s"$l.gc_ms", a.gcMs.toDouble, "ms")
      put(s"$l.shuffle_bytes", a.shuffleBytes.toDouble, "B")
    }
    // self time per layer of the traced spans; with the remainder (time
    // between spans) they add up to the traced wall
    val self = tr.selfMs.groupBy(_._1.layer).view.mapValues(_.map(_._2).sum).toMap
    (LayerListener.Layers.filterNot(_ == "unattributed") :+ "publish").foreach(l =>
      put(s"$l.self_ms", self.getOrElse(l, 0.0), "ms"))
    put("trace.wall_ms", b.wallMs, "ms")
    put("trace.remainder_ms", b.wallMs - self.values.sum, "ms")
    put("trace.overhead_share", b.wallMs / c.wallMs - 1, "share")
    Json.obj(f.toSeq: _*)
  }

  private def spansJson: String = Json.arr(tr.spans.map(s => Json.obj(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
    "layer" -> Json.str(s.layer), "trace" -> Json.str(s.trace),
    "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
    "dur_ms" -> Json.num(s.ms))))
}

/** Optimizer + planning time of the board's executions (`collect`). */
final class PlanListener extends QueryExecutionListener {
  @volatile var planMs = 0.0
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "collect") synchronized {
      val ph = qe.tracker.phases
      planMs += Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
