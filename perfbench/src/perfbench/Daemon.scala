package perfbench

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.ingest.{FileOutcome, TickerIngest}
import graft.journal.TickerFileJournal
import graft.pipeline.{CleanupReport, Lifecycle, ProcessReport}
import graft.streaming.{Discovery, StreamingAnalytics}

/** Files scanned by an executed query, read from its scan nodes' metrics. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/** What the benchmark expects of one published file after a unit of work. */
final case class Expect(spec: FileSpec, status: String, loaded: Boolean, present: Boolean)

/** Verdict on one file op. `defect` marks the standing known defect: the
  * data is right but the file's outcome counts its type-error rows as
  * loaded rows. Any other failure is unexpected.
  */
final case class FileVerdict(name: String, failures: Seq[String], defect: Boolean) {
  def ok: Boolean = failures.isEmpty
}

/** One daemon instance on fresh directories: the arrival root, the journal,
  * the warehouse. Every call into the program goes through a span of its
  * layer. `now` is a simulated clock; `today` is always passed in.
  */
final class Daemon(spark: SparkSession, tr: Tracer, base: String, clock0Ms: Long) {
  val root = s"$base/in"
  val staging = s"$base/in/.publish"
  val journalDir = s"$base/journal"
  val wh = s"$base/wh"
  val journal = new TickerFileJournal(spark, journalDir)
  val outcomes = mutable.Map[String, FileOutcome]()
  /** Non-time layer counters, summed over the daemon's life. */
  val counters = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private var clockMs = clock0Ms

  def now(): Timestamp = { clockMs += 1000L; new Timestamp(clockMs) }

  def path(f: FileSpec): File = new File(s"$root/${f.date}/${f.name}")

  /** Publishes one file atomically into its date dir. */
  def publish(rnd: java.util.SplittableRandom, ticker: String, date: LocalDate, name: String,
      seq0: Long, rows: Int, fromMs: Long, toMs: Long, bad: Malformed,
      tap: Tick => Unit = _ => ()): FileSpec =
    TickerGen.write(rnd, new File(s"$root/$date/$name"), new File(s"$staging/$name"),
      ticker, date, seq0, rows, fromMs, toMs, bad, tap)

  // processReady's public ingest hook: times the stage phase as a child
  // span and keeps each file's reported outcome
  private val ingestFn: (SparkSession, Seq[String], String, Option[String]) => TickerIngest.StagedIngest =
    (s, paths, w, q) => tr.span("ingest.stage", "ingest") {
      val st = TickerIngest.stage(s, paths, w, q)
      st.report.outcomes.foreach(o => outcomes(o.filename) = o)
      val (outFiles, outBytes) = Files.parts(new File(st.stagingWh))
      counters("ingest.rows") += st.report.totalRows
      counters("ingest.corrupt_rows") += st.report.totalCorrupt
      counters("ingest.input_bytes") += paths.map(p => new File(p).length()).sum
      counters("ingest.output_files") += outFiles
      counters("ingest.output_bytes") += outBytes
      st
    }

  def discover(today: LocalDate): Long =
    tr.span("streaming.catchUp", "streaming") {
      Discovery.catchUp(spark, journal, root, today, now())
    }

  def advance(today: LocalDate): (Long, Long) =
    tr.span("journal.advance", "journal") {
      Lifecycle.advanceStatuses(journal, today, now())
    }

  /** PipelineApp's upload cycle: drain the READY backlog batch by batch. */
  def process(): Seq[ProcessReport] = {
    def once() = tr.span("pipeline.processReady", "pipeline") {
      Lifecycle.processReady(spark, journal, root, wh, now(), ingestFn = ingestFn)
    }
    val reps = mutable.ArrayBuffer(once())
    while (reps.last.finished > 0 && reps.last.errored == 0 && reps.last.remainingReady > 0)
      reps += once()
    reps.toSeq
  }

  def cleanup(today: LocalDate): CleanupReport =
    tr.span("pipeline.cleanup", "pipeline") { Lifecycle.cleanup(journal, root, today) }

  /** PipelineApp's cleanup-cadence body for the stores this benchmark
    * feeds: retention GC, journal compaction, small-file compaction.
    */
  def maintain(today: LocalDate): CleanupReport = {
    val cl = cleanup(today)
    tr.span("journal.compact", "journal") { journal.compact(now()) }
    val (before, after) = tr.span("ingest.compact", "ingest") {
      TickerIngest.fragmentedPartitions(spark, wh, threshold = 8)
        .map(dt => TickerIngest.compactPartition(spark, wh, dt))
        .foldLeft((0, 0)) { case ((b, a), (x, y)) => (b + x, a + y) }
    }
    counters("ingest.compact_files_before") += before
    counters("ingest.compact_files_after") += after
    cl
  }

  private def warehouseOn(d: LocalDate): DataFrame =
    TickerIngest.warehouse(spark, wh).filter(col("file_date") === lit(Date.valueOf(d)))

  /** Dashboard point lookup: one (ticker, sequence) on one day. */
  def pointRead(d: LocalDate, ticker: String, seq: Long): Array[Row] =
    tr.span("reads.point", "reads") {
      val df = warehouseOn(d).filter(col("ticker") === ticker && col("sequence") === seq)
      val rows = df.collect()
      if (tr.record) counters("reads.files_scanned") += ScanFiles.of(df)
      rows
    }

  /** Dashboard 1-minute OHLC over [fromMs, fromMs + 1 min) of one day. */
  def ohlcRead(d: LocalDate, fromMs: Long): Array[Row] =
    tr.span("reads.ohlc", "reads") {
      val df = StreamingAnalytics.windowedOhlc(warehouseOn(d).filter(
        col("transactionTime") >= lit(new Timestamp(fromMs)) &&
          col("transactionTime") < lit(new Timestamp(fromMs + 60000L))))
      val rows = df.collect()
      if (tr.record) counters("reads.files_scanned") += ScanFiles.of(df)
      rows
    }

  /** Part files and bytes in the warehouse (staging excluded). */
  def warehouseFiles: (Long, Long) = Files.parts(new File(wh))

  /** Current journal status of the named files. */
  def statuses(names: Seq[String]): Map[String, String] = {
    import spark.implicits._
    journal.current.filter(col("filename").isin(names: _*))
      .select("filename", "status").as[(String, String)].collect().toMap
  }

  /** Journal part files and event rows. */
  def journalSize: (Long, Long) = {
    val d = new File(journalDir)
    val parts = Option(d.listFiles()).toSeq.flatten.count(_.getName.startsWith("part-")).toLong
    (parts, if (parts == 0) 0L else spark.read.parquet(journalDir).count())
  }
}

object Checks {
  /** The pure comparison behind every file op: expected state vs what
    * was observed. Kept apart from the observation so the self-test can
    * feed it a tampered observation.
    */
  def verdict(e: Expect, status: Option[String], wh: Option[Sig], whBad: Long,
      outcome: Option[FileOutcome], present: Boolean): FileVerdict = {
    val f = e.spec
    val fails = mutable.ArrayBuffer[String]()
    if (!status.contains(e.status)) fails += s"status ${status.getOrElse("none")} != ${e.status}"
    val wantWh = if (e.loaded) Some(f.valid) else None
    if (wh != wantWh) fails += s"warehouse rows $wh != $wantWh"
    if (whBad != 0) fails += s"$whBad warehouse rows carry a wrong ticker or date"
    if (present != e.present) fails += s"input present=$present, expected ${e.present}"
    var defect = false
    if (e.loaded) outcome match {
      case Some(o) if o.rows == f.valid.n && o.corrupt_rows == f.corrupt => ()
      case Some(o) =>
        fails += s"outcome rows=${o.rows} corrupt=${o.corrupt_rows}, expected rows=${f.valid.n} corrupt=${f.corrupt}"
        // the known defect: type-error rows reported as loaded rows
        defect = f.typeErr > 0 && o.rows + o.corrupt_rows == f.valid.n + f.corrupt &&
          o.rows > f.valid.n && o.corrupt_rows >= f.arity
      case None => fails += "no outcome reported"
    } else if (outcome.nonEmpty) fails += "outcome reported for a file that must not load"
    FileVerdict(f.name, fails.toSeq, defect && fails.size == 1)
  }

  /** Observes the journal, the warehouse and the arrival root once, then
    * judges every expectation.
    */
  def files(spark: SparkSession, d: Daemon, expects: Seq[Expect]): Seq[FileVerdict] = {
    import spark.implicits._
    val status = d.journal.current.select("filename", "status").as[(String, String)].collect().toMap
    val (sigs, bad) =
      if (!new File(d.wh).exists()) (Map.empty[String, Sig], Map.empty[String, Long])
      else {
        def cents(c: String) = sum(round(col(c) * 100).cast("long"))
        val rows = TickerIngest.warehouse(spark, d.wh).groupBy("filename").agg(
          count(lit(1)), sum("sequence"), cents("price"), cents("size"), cents("bestAsk"),
          cents("bestAskSize"), cents("bestBid"), cents("bestBidSize"),
          sum(expr("unix_millis(transactionTime)")),
          sum(when(col("ticker") === col("ticker_from_name") &&
            col("file_date") === to_date(regexp_extract(col("filename"),
              "(\\d{4}-\\d{2}-\\d{2})", 1)), 0L).otherwise(1L))).collect()
        (rows.map(r => r.getString(0) -> Sig(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))).toMap,
          rows.map(r => r.getString(0) -> r.getLong(10)).toMap)
      }
    expects.map { e =>
      val n = e.spec.name
      verdict(e, status.get(n), sigs.get(n), bad.getOrElse(n, 0L), d.outcomes.get(n),
        d.path(e.spec).exists())
    }
  }

  /** Point lookup verdict: exactly the generated row. */
  def point(rows: Array[Row], t: Tick, file: String): Option[String] = {
    def c(r: Row, f: String) = math.round(r.getAs[Double](f) * 100)
    rows match {
      case Array(r) if r.getAs[String]("ticker") == t.ticker && r.getAs[Long]("sequence") == t.seq &&
          c(r, "price") == t.price && c(r, "size") == t.size && c(r, "bestAsk") == t.ask &&
          c(r, "bestAskSize") == t.askSize && c(r, "bestBid") == t.bid &&
          c(r, "bestBidSize") == t.bidSize &&
          r.getAs[Timestamp]("transactionTime").getTime == t.timeMs &&
          r.getAs[String]("filename") == file => None
      case _ => Some(s"point lookup returned ${rows.mkString(";")} for $t")
    }
  }

  /** OHLC verdict for one ticker's expected bar. */
  def ohlc(rows: Array[Row], a: OhlcAcc): Option[String] = {
    def c(r: Row, f: String) = math.round(r.getAs[Double](f) * 100)
    rows.filter(_.getAs[String]("ticker") == a.ticker) match {
      case Array(r) if r.getAs[Timestamp]("bucket_start").getTime == a.fromMs &&
          c(r, "open") == a.open && c(r, "high") == a.high && c(r, "low") == a.low &&
          c(r, "close") == a.close && r.getAs[Long]("n_ticks") == a.n &&
          c(r, "volume") == a.volume => None
      case got => Some(s"ohlc for ${a.ticker}@${a.fromMs} returned ${got.mkString(";")}, " +
        s"expected o=${a.open} h=${a.high} l=${a.low} c=${a.close} n=${a.n} v=${a.volume}")
    }
  }
}
