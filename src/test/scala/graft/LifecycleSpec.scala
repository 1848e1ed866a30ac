package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.ingest.TickerIngest
import graft.journal.TickerFileJournal
import graft.pipeline.Lifecycle
import graft.schema.FileStatus
import graft.streaming.Discovery

/** Flow 2/3/4 semantics — mirrors `ProceedFilesStatusFlowTest.java:60-124`
  * (status advance), `UploadTickerFilesStatusAndDataFlowTest.java:87-133`
  * (path resolution + upload) and `CleanupUploadedFilesFlowTest.java:61-258`
  * (guard + delete matrix), plus the end-to-end discovery→finalize slice of
  * SURVEY §7.2.
  */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val today = LocalDate.parse("2024-08-08")

  private def journalWith(rows: (String, String, FileStatus)*): TickerFileJournal = {
    val j = new TickerFileJournal(spark, tmpDir("journal"))
    val cands = rows.map { case (f, d, _) => (f, dt(d)) }
    j.appendDiscovered(cands, ts("2024-08-08 09:00:00"))
    // walk each file to its target status along legal edges
    rows.foreach { case (f, _, target) =>
      val path = target match {
        case FileStatus.Discovered => Nil
        case FileStatus.Downloading => Seq(FileStatus.Downloading)
        case FileStatus.ReadyForProcessing => Seq(FileStatus.ReadyForProcessing)
        case FileStatus.InProgress => Seq(FileStatus.ReadyForProcessing, FileStatus.InProgress)
        case FileStatus.Finished =>
          Seq(FileStatus.ReadyForProcessing, FileStatus.InProgress, FileStatus.Finished)
        case FileStatus.Error =>
          Seq(FileStatus.ReadyForProcessing, FileStatus.InProgress, FileStatus.Error)
      }
      path.zipWithIndex.foreach { case (st, i) =>
        j.transition(Seq(f), st, ts(s"2024-08-08 09:0${i + 1}:00"))
      }
    }
    j
  }

  test("Flow2: today+DISCOVERED→DOWNLOADING; past→READY; ERROR untouched") {
    val j = journalWith(
      ("todayFile", "2024-08-08", FileStatus.Discovered),
      ("staleFile", "2024-08-03", FileStatus.Discovered),
      ("staleDownloading", "2024-08-03", FileStatus.Downloading),
      ("errFile", "2024-08-03", FileStatus.Error))
    val (down, ready) = Lifecycle.advanceStatuses(j, today, ts("2024-08-08 10:00:00"))
    assert(down == 1 && ready == 2)
    assert(j.statusOf("todayFile").contains(FileStatus.Downloading))
    assert(j.statusOf("staleFile").contains(FileStatus.ReadyForProcessing))
    assert(j.statusOf("staleDownloading").contains(FileStatus.ReadyForProcessing))
    assert(j.statusOf("errFile").contains(FileStatus.Error))
  }

  private def writeCsv(root: String, date: String, name: String, lines: Seq[String]): Unit = {
    val dir = new java.io.File(s"$root/$date"); dir.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/$date/$name"),
      lines.mkString("\n").getBytes)
    ()
  }

  private val goodLine =
    "AVA-USDT,123456789,0.6123,15.2,0.6125,100.0,0.6121,80.5,2024-03-14T12:34:56.123"

  test("Flow3 e2e: discovery → advance → claim → ingest → FINISHED") {
    val root = tmpDir("dataRoot")
    val wh = tmpDir("warehouse")
    writeCsv(root, "2024-08-06", "AVA-USDT_PST_2024-08-06", Seq(goodLine, goodLine))
    writeCsv(root, "2024-08-07", "BTC-USDT_PST_2024-08-07", Seq(goodLine, "BAD,LINE"))
    val j = new TickerFileJournal(spark, tmpDir("journal"))
    val n = Discovery.catchUp(spark, j, root, today, ts("2024-08-08 10:00:00"))
    assert(n == 2)
    Lifecycle.advanceStatuses(j, today, ts("2024-08-08 10:01:00"))
    val report = Lifecycle.processReady(spark, j, root, wh, ts("2024-08-08 10:02:00"))
    assert(report.claimed == 2 && report.finished == 2 && report.errored == 0)
    assert(report.rows == 3 && report.corruptRows == 1)
    assert(j.byStatus(FileStatus.Finished).count() == 2)
    // warehouse is date-partitioned and queryable
    val loaded = TickerIngest.warehouse(spark, wh)
    assert(loaded.count() == 3)
    assert(loaded.filter(col("file_date") === lit(dt("2024-08-06"))).count() == 2)
    assert(loaded.select("ticker").distinct().as[String].collect().toSet == Set("AVA-USDT"))
  }

  test("Flow3: ingest failure marks the claimed set ERROR, re-ingestable") {
    val root = tmpDir("dataRoot")
    val j = journalWith(("ghost", "2024-08-06", FileStatus.ReadyForProcessing))
    // file does not exist on disk → read throws → ERROR quarantine
    val report = Lifecycle.processReady(spark, j, root, tmpDir("wh"), ts("2024-08-08 10:02:00"))
    assert(report.claimed == 1 && report.errored == 1)
    assert(j.statusOf("ghost").contains(FileStatus.Error))
    // ERROR → READY_FOR_PROCESSING is legal (at-least-once, never dropped)
    assert(j.transition(Seq("ghost"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:03:00")) == 1)
  }

  test("Flow3 retry: two transient failures succeed on attempt 3; exhaustion quarantines") {
    // mirrors FlowsUtil.java:25-49 manageRetryOperation, knob-driven via RetryPolicy
    val root = tmpDir("dataRoot")
    val wh = tmpDir("wh")
    writeCsv(root, "2024-08-06", "AVA-USDT_PST_2024-08-06", Seq(goodLine))
    val j = journalWith(("AVA-USDT_PST_2024-08-06", "2024-08-06", FileStatus.ReadyForProcessing))
    var calls = 0
    val flaky: (org.apache.spark.sql.SparkSession, Seq[String], String, Option[String]) => TickerIngest.StagedIngest =
      (s, p, w, q) => {
        calls += 1
        if (calls < 3) throw new RuntimeException(s"transient #$calls")
        TickerIngest.stage(s, p, w, q)
      }
    val rep = Lifecycle.processReady(spark, j, root, wh, ts("2024-08-08 10:02:00"),
      retry = graft.pipeline.RetryPolicy(maxAttempts = 3, sleepMs = 0L), ingestFn = flaky)
    assert(calls == 3 && rep.finished == 1 && rep.errored == 0)
    assert(j.statusOf("AVA-USDT_PST_2024-08-06").contains(FileStatus.Finished))

    // no-duplication: an attempt that fails AFTER its staged write (the
    // dangerous case for a plain append) leaves only invisible staging
    // garbage — the retry's rows appear exactly once in the warehouse
    val wh2 = tmpDir("wh2")
    val j3 = journalWith(("AVA-USDT_PST_2024-08-06", "2024-08-06", FileStatus.ReadyForProcessing))
    var calls3 = 0
    val postWriteFlaky: (org.apache.spark.sql.SparkSession, Seq[String], String, Option[String]) => TickerIngest.StagedIngest =
      (s, p, w, q) => {
        calls3 += 1
        val staged = TickerIngest.stage(s, p, w, q) // full staged write happens
        if (calls3 == 1) throw new RuntimeException("failure after the write")
        staged
      }
    val rep3 = Lifecycle.processReady(spark, j3, root, wh2, ts("2024-08-08 10:04:00"),
      retry = graft.pipeline.RetryPolicy(maxAttempts = 2, sleepMs = 0L), ingestFn = postWriteFlaky)
    assert(calls3 == 2 && rep3.finished == 1)
    assert(TickerIngest.warehouse(spark, wh2).count() == 1) // NOT 2: no double append

    // exhaustion: always-failing ingest burns all attempts then quarantines
    val j2 = journalWith(("AVA-USDT_PST_2024-08-06", "2024-08-06", FileStatus.ReadyForProcessing))
    var calls2 = 0
    val rep2 = Lifecycle.processReady(spark, j2, root, wh, ts("2024-08-08 10:03:00"),
      retry = graft.pipeline.RetryPolicy(maxAttempts = 2, sleepMs = 0L),
      ingestFn = (_, _, _, _) => { calls2 += 1; throw new RuntimeException("always") })
    assert(calls2 == 2 && rep2.errored == 1)
    assert(j2.statusOf("AVA-USDT_PST_2024-08-06").contains(FileStatus.Error))
  }

  test("chaos: kill after staging, before commit — restart re-ingests exactly once") {
    val root = tmpDir("dataRoot")
    val wh = tmpDir("warehouse")
    writeCsv(root, "2024-08-06", "AVA-USDT_PST_2024-08-06", Seq(goodLine, goodLine))
    writeCsv(root, "2024-08-07", "BTC-USDT_PST_2024-08-07", Seq(goodLine))
    val j = journalWith(
      ("AVA-USDT_PST_2024-08-06", "2024-08-06", FileStatus.ReadyForProcessing),
      ("BTC-USDT_PST_2024-08-07", "2024-08-07", FileStatus.ReadyForProcessing))

    // ---- first run, killed mid-batch: claim flips, the FULL staged write
    // completes, and then the process dies before the rename-commit. That is
    // the worst crash point for a plain append (all data written twice on
    // retry); here the staged copy must stay invisible.
    val claimed = j.claimReady(ts("2024-08-08 10:02:00"))
    assert(claimed.size == 2)
    val paths = claimed.map { case (f, d) => s"$root/$d/$f" }.sorted
    TickerIngest.stage(spark, paths, wh) // staged rows on disk...
    // ...and then the JVM "dies": the StagedIngest is dropped, no commit.

    // journal shows the wedge; the warehouse shows NOTHING (staging dirs
    // are underscore-prefixed, invisible to readers)
    assert(j.byStatus(FileStatus.InProgress).count() == 2)
    assert(TickerIngest.warehouse(spark, wh).count() == 0)

    // ---- restart: recovery routes the orphaned claims back to READY,
    // then a normal cycle processes them
    assert(Lifecycle.recoverOrphaned(j, ts("2024-08-08 10:10:00")) == 2)
    assert(j.byStatus(FileStatus.ReadyForProcessing).count() == 2)
    val rep = Lifecycle.processReady(spark, j, root, wh, ts("2024-08-08 10:11:00"))
    assert(rep.claimed == 2 && rep.finished == 2 && rep.errored == 0)

    // exactly-once: 3 rows, not 6 — the killed run's staged copy never
    // became public and was swept by the successful commit
    assert(TickerIngest.warehouse(spark, wh).count() == 3)
    assert(!new java.io.File(s"$wh/_staging").exists)
    assert(j.byStatus(FileStatus.Finished).count() == 2)

    // recovery on a healthy journal is a no-op
    assert(Lifecycle.recoverOrphaned(j, ts("2024-08-08 10:20:00")) == 0)
  }

  test("Flow4 guards: same-day / today / yesterday windows skip the pass") {
    // min==max finished date → skip
    val j1 = journalWith(("a", "2024-08-01", FileStatus.Finished))
    assert(Lifecycle.cleanup(j1, tmpDir("r"), today).skipped)
    // minFinished == today → skip
    val j2 = journalWith(("a", "2024-08-08", FileStatus.Finished),
      ("b", "2024-08-01", FileStatus.Finished))
    assert(Lifecycle.cleanup(j2, tmpDir("r"), LocalDate.parse("2024-08-01")).skipped)
    // minFinished + 1 == today (backup window) → skip
    val j3 = journalWith(("a", "2024-08-07", FileStatus.Finished),
      ("b", "2024-08-08", FileStatus.Finished))
    assert(Lifecycle.cleanup(j3, tmpDir("r"), today).skipped)
  }

  test("Flow4 delete matrix: FINISHED deleted, ERROR kept, emptied dir removed") {
    val root = tmpDir("dataRoot")
    writeCsv(root, "2024-08-01", "finA", Seq(goodLine))
    writeCsv(root, "2024-08-01", "errB", Seq(goodLine))
    writeCsv(root, "2024-08-02", "finC", Seq(goodLine))
    writeCsv(root, "2024-08-07", "finRecent", Seq(goodLine)) // dir too recent to touch
    val j = journalWith(
      ("finA", "2024-08-01", FileStatus.Finished),
      ("errB", "2024-08-01", FileStatus.Error),
      ("finC", "2024-08-02", FileStatus.Finished),
      ("finRecent", "2024-08-07", FileStatus.Finished),
      ("oldAnchor", "2024-08-04", FileStatus.Finished)) // makes min<max, off window
    val r = Lifecycle.cleanup(j, root, LocalDate.parse("2024-08-09"))
    assert(!r.skipped)
    // maxFinished = 2024-08-07: dirs with date+1 < 08-07 → 08-01, 08-02 eligible
    assert(r.deletedFiles == 2 && r.keptErrorFiles == 1)
    assert(new java.io.File(s"$root/2024-08-01/errB").exists)
    assert(!new java.io.File(s"$root/2024-08-01/finA").exists)
    assert(!new java.io.File(s"$root/2024-08-02").exists) // emptied → removed
    assert(r.deletedDirs == Seq("2024-08-02"))
    assert(new java.io.File(s"$root/2024-08-07/finRecent").exists)
  }
}
