package graft.pipeline

import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import graft.ingest.{IngestReport, TickerIngest}
import graft.journal.TickerFileJournal
import graft.schema.FileStatus

/** `remainingReady` is the READY backlog left after this cycle: claimReady
  * caps each claim at [[TickerFileJournal.DefaultClaimLimit]], so a burst
  * larger than one batch is NOT drained in one call — without this signal a
  * capped claim is indistinguishable from a drained journal and the backlog
  * looks stalled. Callers loop (or re-arm sooner) while it is > 0.
  */
case class ProcessReport(claimed: Int, finished: Int, errored: Int,
                         rows: Long, corruptRows: Long, remainingReady: Long = 0L)
case class CleanupReport(skipped: Boolean, deletedFiles: Int, keptErrorFiles: Int,
                         deletedDirs: Seq[String])

/** The reference's four scheduled flows re-stated as three idempotent batch
  * jobs over the journal + warehouse (Flow 1, discovery, lives in
  * [[graft.streaming.Discovery]]).
  *
  * Flow 2 (`ProceedFilesStatusFlow.java:74-111`) → [[advanceStatuses]];
  * Flow 3 (`UploadTickerFilesStatusAndDataFlow.java:64-207`) → [[processReady]];
  * Flow 4 (`CleanupUploadedFilesFlow.java:64-188`) → [[cleanup]].
  *
  * Scheduling (B5): the reference re-arms each flow on a fixed delay (20 s /
  * 30 s / 3 h). Call these from any scheduler — each run is a self-contained
  * Spark batch job; state lives entirely in the journal, so restarts are
  * safe (at-least-once with ERROR quarantine, SURVEY §7.4).
  */
object Lifecycle {

  /** Flow 2 — B7 conditional status advance:
    * same-day ∧ DISCOVERED → DOWNLOADING; past-day (DISCOVERED|DOWNLOADING)
    * → READY_FOR_PROCESSING; everything else untouched.
    */
  def advanceStatuses(journal: TickerFileJournal, today: LocalDate,
      now: Timestamp): (Long, Long) = {
    val toReady = journal.transitionWhere(e => e.createDate.toLocalDate.isBefore(today) &&
      (e.status == FileStatus.Discovered || e.status == FileStatus.Downloading),
      FileStatus.ReadyForProcessing, now)
    val toDownloading = journal.transitionWhere(e => e.createDate.toLocalDate.isEqual(today) &&
      e.status == FileStatus.Discovered, FileStatus.Downloading, now)
    (toDownloading, toReady)
  }

  /** Flow 3 — claim → ingest → finalize. The claim flip (IN_PROGRESS before
    * any data is read) prevents double-processing across cycles. Only the
    * STAGING phase of the ingest — every fallible step, but nothing public —
    * sits inside the reference's bounded flow retry (`FlowsUtil.java:25-49`,
    * knobs from `application.origin.yaml:15,38-39` via [[RetryPolicy]]): a
    * failed attempt leaves an invisible `_staging` dir behind, never
    * half-appended warehouse rows, so the automatic in-cycle retry is
    * exactly-once. The commit (renames only) runs OUTSIDE the retry. A
    * crash after [[TickerIngest.commit]] starts renaming and before the
    * FINISHED transition is NOT exactly-once: the renamed part files are
    * already visible, the files stay IN_PROGRESS, and the re-ingest after
    * [[recoverOrphaned]] appends their rows a second time. Only
    * when every attempt (or the commit) fails does the whole claimed set go
    * ERROR (the reference's partition-wide quarantine,
    * `TickersDataLoader.java:160-169`) and stay re-ingestable
    * (ERROR → READY_FOR_PROCESSING is a legal transition — that manual
    * path, like the reference's, is at-least-once).
    *
    * `ingestFn` is injectable for failure-injection tests; production use
    * is the default [[TickerIngest.stage]].
    */
  def processReady(spark: SparkSession, journal: TickerFileJournal,
      dataRoot: String, warehouseDir: String, now: Timestamp,
      quarantineDir: Option[String] = None,
      retry: RetryPolicy = RetryPolicy(1, 0L),
      ingestFn: (SparkSession, Seq[String], String, Option[String]) => TickerIngest.StagedIngest =
        TickerIngest.stage,
      external: Option[graft.sinks.ExternalSink] = None): ProcessReport = {
    val claimed = journal.claimReady(now)
    if (claimed.isEmpty) return ProcessReport(0, 0, 0, 0L, 0L)
    // B8/B9 path resolution: <root>/<yyyy-MM-dd>/<filename>, sorted (B10)
    val paths = claimed.map { case (f, d) => s"$dataRoot/$d/$f" }.sorted
    val base =
      try {
        val staged = Retry(retry, "processReady.stage") {
          ingestFn(spark, paths, warehouseDir, quarantineDir)
        }
        // optional external warehouse (DatabaseConfig) — published from the
        // STAGED parquet, before the commit and the status flip: the
        // reference's ordering (upload to ClickHouse, then finalize), and
        // the right crash matrix — a publish failure routes the claim to
        // ERROR with the warehouse untouched; a crash after publish but
        // before finalize re-stages AND re-publishes on requeue
        // (at-least-once to the external sink, the reference's own
        // contract), while the parquet commit stays exactly-once.
        // Deliberately append(), NOT the tokened appendBatch(): ClickHouse
        // dedups by token alone, and a requeue RE-STAGES the batch — the
        // re-read can partition differently, so a reused (batch, partition)
        // token could silently drop rows whose partition contents shifted.
        // The token is only safe where replays are partition-deterministic
        // (within-job task retries; streaming foreachBatch replays —
        // ClickHouseHttpSink.streamFrom uses it there).
        external.foreach { sink =>
          if (staged.stagingWh.nonEmpty)
            Retry(retry, "processReady.publish") {
              sink.append(spark.read.parquet(staged.stagingWh))
            }
        }
        TickerIngest.commit(spark, staged) // renames only — never retried
        val report: IngestReport = staged.report
        // B14 finalize: the write action was the barrier; all claimed files
        // that survived it are FINISHED (a file with only corrupt rows still
        // finishes — mirror of the reference, which quarantines rows, not files)
        journal.transition(claimed.map(_._1), FileStatus.Finished, now)
        ProcessReport(claimed.size, claimed.size, 0, report.totalRows, report.totalCorrupt)
      } catch {
        case e: Exception =>
          // at-least-once contract: quarantine the claimed set, keep running
          System.err.println(s"[lifecycle] ingest failed, marking ${claimed.size} files ERROR: $e")
          journal.transition(claimed.map(_._1), FileStatus.Error, now)
          ProcessReport(claimed.size, 0, claimed.size, 0L, 0L)
      }
    base.copy(remainingReady = journal.statusCounts.getOrElse(FileStatus.ReadyForProcessing, 0L))
  }

  /** Crash recovery — run once at startup, before the first [[processReady]]
    * cycle. A claim-holder that died mid-cycle (after the claim flip,
    * before finalize) leaves its files IN_PROGRESS forever: the flip is
    * exactly what stops any other cycle from touching them. Route the
    * orphans back along legal edges (IN_PROGRESS → ERROR →
    * READY_FOR_PROCESSING; both appended under the same timestamp, the
    * journal's batch_seq tie-break keeps them ordered). No filesystem
    * action is taken here. A crash before [[TickerIngest.commit]] left only
    * underscore-prefixed staging dirs — invisible to every reader and swept
    * by the next successful commit — so that re-ingest is exactly-once. A
    * crash after the commit started renaming and before the FINISHED
    * transition left some or all of the batch's part files visible in the
    * warehouse, and the re-ingest duplicates those rows: the rename walk
    * publishes no record of what it renamed for recovery to consult.
    */
  def recoverOrphaned(journal: TickerFileJournal, now: Timestamp): Long = {
    val orphaned = journal.filesWith(FileStatus.InProgress)
    if (orphaned.isEmpty) 0L
    else {
      journal.transition(orphaned, FileStatus.Error, now)
      journal.transition(orphaned, FileStatus.ReadyForProcessing, now)
    }
  }

  /** Flow 4 — retention GC with the reference's three guard conditions
    * (`CleanupUploadedFilesFlow.java:102-112`): skip the whole pass when
    * minFinished == maxFinished (still loading same day), minFinished ==
    * today (still uploading), or minFinished + 1 == today (1-day backup
    * window). Then delete FINISHED files in dirs where dirDate + 1 <
    * maxFinished, keep ERROR files, remove emptied dirs.
    * Driver-side BY DESIGN — per-file deletes against the arrival store
    * are inherently not a distributed dataflow — but driver-side does not
    * mean local-disk-only: the walk goes through the Hadoop FileSystem
    * (like every other maintenance path), so the same GC runs against an
    * HDFS/object-store inbox. Work stays proportional to the GC-eligible
    * dirs: one listStatus per eligible dir, and one journal lookup per file.
    */
  def cleanup(journal: TickerFileJournal, dataRoot: String, today: LocalDate): CleanupReport = {
    val minF = journal.minMaxDateForStatus("MIN", FileStatus.Finished).map(_.toLocalDate)
    val maxF = journal.minMaxDateForStatus("MAX", FileStatus.Finished).map(_.toLocalDate)
    (minF, maxF) match {
      case (Some(lo), Some(hi))
          if !(lo.isEqual(hi) || lo.isEqual(today) || lo.plusDays(1).isEqual(today)) =>
        val (fs, rootPath) = graft.ingest.HadoopFs.forPath(journal.spark, dataRoot)
        val dateDirs =
          (if (fs.exists(rootPath)) fs.listStatus(rootPath) else Array.empty[org.apache.hadoop.fs.FileStatus])
            .filter(_.isDirectory)
            .filter(d => scala.util.Try(LocalDate.parse(d.getPath.getName)).isSuccess)
        var deleted = 0
        var kept = 0
        val deletedDirs = scala.collection.mutable.ArrayBuffer[String]()
        dateDirs.foreach { dir =>
          val dirDate = LocalDate.parse(dir.getPath.getName)
          if (dirDate.plusDays(1).isBefore(hi)) {
            fs.listStatus(dir.getPath).filter(_.isFile).foreach { f =>
              journal.statusOf(f.getPath.getName) match {
                case Some(FileStatus.Finished) =>
                  // count only CONFIRMED deletes: on a remote filesystem a
                  // delete can fail (permissions, lease) and a report that
                  // claims the file was GC'd while it remains would mislead
                  // whoever monitors the cleanup cadence
                  if (fs.delete(f.getPath, false)) deleted += 1
                case Some(FileStatus.Error) => kept += 1
                case _ => () // unknown to the journal: leave untouched
              }
            }
            if (fs.listStatus(dir.getPath).isEmpty &&
                fs.delete(dir.getPath, false))
              deletedDirs += dir.getPath.getName
          }
        }
        CleanupReport(skipped = false, deleted, kept, deletedDirs.toSeq)
      case _ => CleanupReport(skipped = true, 0, 0, Nil)
    }
  }
}
