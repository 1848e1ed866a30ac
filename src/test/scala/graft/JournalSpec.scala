package graft

import org.apache.spark.sql.functions._
import graft.journal.TickerFileJournal
import graft.schema.FileStatus

/** Journal semantics — mirrors the reference's dedup fixture
  * (`SaveNewFilesToDbFlowTest.java:216-250`) and the A1–A6/A9/A11 query
  * shapes it answers.
  */
class JournalSpec extends SparkSpec {
  import spark.implicits._

  private def freshJournal() = new TickerFileJournal(spark, tmpDir("journal"))

  private def candidates(names: (String, String)*) =
    names.toSeq.map { case (f, d) => (f, dt(d)) }

  test("B6 dedup: buffer {A,B,C} vs journal {C,X} inserts only {A,B}") {
    val j = freshJournal()
    j.appendDiscovered(candidates("0000C" -> "2024-08-08", "0000X" -> "2024-08-08"), ts("2024-08-08 10:00:00"))
    val n = j.appendDiscovered(
      candidates("0000A" -> "2024-08-08", "0000B" -> "2024-08-08", "0000C" -> "2024-08-08"),
      ts("2024-08-08 10:01:00"))
    assert(n == 2)
    val cur = j.current.select("filename", "status").as[(String, String)].collect().toMap
    assert(cur.keySet == Set("0000A", "0000B", "0000C", "0000X"))
    assert(cur.values.toSet == Set(FileStatus.Discovered.name))
  }

  test("A9 latest-wins: transition updates status; illegal transitions skipped") {
    val j = freshJournal()
    j.appendDiscovered(candidates("f1" -> "2024-08-08", "f2" -> "2024-08-08"), ts("2024-08-08 10:00:00"))
    val n = j.transition(Seq("f1"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    assert(n == 1)
    assert(j.statusOf("f1").contains(FileStatus.ReadyForProcessing))
    assert(j.statusOf("f2").contains(FileStatus.Discovered))
    // DISCOVERED -> FINISHED is illegal: no-op
    assert(j.transition(Seq("f2"), FileStatus.Finished, ts("2024-08-08 10:02:00")) == 0)
    assert(j.statusOf("f2").contains(FileStatus.Discovered))
  }

  test("asOf time travel: every historical snapshot reproducible; compact sets the horizon") {
    val j = freshJournal()
    def snap(seq: Long) = j.asOf(seq)
      .select("filename", "status").as[(String, String)].collect().toMap

    j.appendDiscovered(candidates("f1" -> "2024-08-08", "f2" -> "2024-08-08"),
      ts("2024-08-08 10:00:00"))                                          // batch 1
    j.transition(Seq("f1"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00")) // batch 2
    j.transition(Seq("f1"), FileStatus.InProgress, ts("2024-08-08 10:02:00"))         // batch 3
    assert(j.maxBatchSeq == 3)

    assert(snap(0) == Map.empty)
    assert(snap(1) == Map("f1" -> "DISCOVERED", "f2" -> "DISCOVERED"))
    assert(snap(2) == Map("f1" -> "READY_FOR_PROCESSING", "f2" -> "DISCOVERED"))
    assert(snap(3) == Map("f1" -> "IN_PROGRESS", "f2" -> "DISCOVERED"))
    // a snapshot handle taken now is immune to later appends
    assert(snap(j.maxBatchSeq) ==
      j.current.select("filename", "status").as[(String, String)].collect().toMap)

    // compaction folds history into batch 0: time travel now reaches only
    // the compacted state, and never a partial one
    j.compact(ts("2024-08-08 10:03:00"))
    assert(j.maxBatchSeq == 0)
    val cur = j.current.select("filename", "status").as[(String, String)].collect().toMap
    assert(snap(0) == cur && snap(1) == cur && snap(Long.MaxValue) == cur)
  }

  test("idempotence: re-applying a transition is a no-op on the view") {
    val j = freshJournal()
    j.appendDiscovered(candidates("f1" -> "2024-08-08"), ts("2024-08-08 10:00:00"))
    j.transition(Seq("f1"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    j.transition(Seq("f1"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    assert(j.current.count() == 1)
    assert(j.statusOf("f1").contains(FileStatus.ReadyForProcessing))
  }

  test("claimReady flips READY->IN_PROGRESS exactly once") {
    val j = freshJournal()
    j.appendDiscovered(candidates("f1" -> "2024-08-07", "f2" -> "2024-08-07"), ts("2024-08-08 10:00:00"))
    j.transition(Seq("f1", "f2"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    val claimed = j.claimReady(ts("2024-08-08 10:02:00"))
    assert(claimed.map(_._1).toSet == Set("f1", "f2"))
    assert(j.byStatus(FileStatus.InProgress).count() == 2)
    // second claim finds nothing (double-processing prevention)
    assert(j.claimReady(ts("2024-08-08 10:03:00")).isEmpty)
  }

  test("A2/A3/A4/A5/A6/A11 read surface") {
    val j = freshJournal()
    j.appendDiscovered(
      candidates("a" -> "2024-08-06", "b" -> "2024-08-07", "c" -> "2024-08-08"),
      ts("2024-08-08 10:00:00"))
    j.transition(Seq("a"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    j.transition(Seq("a"), FileStatus.InProgress, ts("2024-08-08 10:02:00"))
    j.transition(Seq("a"), FileStatus.Finished, ts("2024-08-08 10:03:00"))
    assert(j.onDate(dt("2024-08-07")).count() == 1)                     // A2
    assert(j.statusOf("a").contains(FileStatus.Finished))               // A3
    assert(j.statusOf("zzz").isEmpty)
    assert(j.byStatus(FileStatus.Discovered).count() == 2)              // A4
    assert(j.maxCreateDate.contains(dt("2024-08-08")))                  // A5
    assert(j.minMaxDateForStatus("MIN", FileStatus.Finished).contains(dt("2024-08-06"))) // A6
    assert(j.countFiles() == 3)                                         // A11
  }

  test("knownAmong (A1) returns the already-journaled subset") {
    val j = freshJournal()
    j.appendDiscovered(candidates("a" -> "2024-08-08", "b" -> "2024-08-08"), ts("2024-08-08 10:00:00"))
    assert(j.knownAmong(Seq("a", "c")).toSet == Set("a"))
  }

  test("compact preserves the current view and truncates history") {
    val j = freshJournal()
    j.appendDiscovered(candidates("a" -> "2024-08-06"), ts("2024-08-08 10:00:00"))
    j.transition(Seq("a"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    val before = j.current.collect().toSeq
    j.compact(ts("2024-08-08 11:00:00"))
    assert(j.events.count() == 1) // history collapsed to the snapshot
    assert(j.current.collect().toSeq == before)
  }

  test("compact at scale folds 12.5k events into a 5k-file snapshot") {
    val j = freshJournal()
    // one DISCOVERED batch of 5k files + 3 transition batches = 4 appends,
    // 12.5k events
    val names = (1 to 5000).map(i => f"tick$i%05d")
    j.appendDiscovered(names.map((_, dt("2024-08-06"))), ts("2024-08-08 10:00:00"))
    j.transition(names.take(2500), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    j.transition(names.take(2500), FileStatus.InProgress, ts("2024-08-08 10:02:00"))
    j.transition(names.take(2500), FileStatus.Finished, ts("2024-08-08 10:03:00"))
    val before = j.current.collect().map(_.toString).sorted
    j.compact(ts("2024-08-08 11:00:00"))
    assert(j.events.count() == 5000)
    assert(j.events.agg(max("batch_seq")).as[Long].head() == 0L)
    assert(j.current.collect().map(_.toString).sorted.sameElements(before))
    // appends after compaction restart the sequence above the snapshot's 0
    j.transition(names.slice(2500, 2600), FileStatus.ReadyForProcessing, ts("2024-08-08 11:01:00"))
    assert(j.events.agg(max("batch_seq")).as[Long].head() == 1L)
    assert(j.byStatus(FileStatus.ReadyForProcessing).count() == 100)
  }

  test("cached batch_seq stays strictly increasing across many appends") {
    val j = freshJournal()
    j.appendDiscovered(candidates("a" -> "2024-08-06", "b" -> "2024-08-06"), ts("2024-08-08 10:00:00"))
    val cycle = Seq(FileStatus.ReadyForProcessing, FileStatus.InProgress,
      FileStatus.Error, FileStatus.ReadyForProcessing, FileStatus.InProgress)
    cycle.zipWithIndex.foreach { case (to, i) =>
      j.transition(Seq("a"), to, ts(s"2024-08-08 10:0${i + 1}:00"))
    }
    val seqs = j.events.select("batch_seq").as[Long].collect().toSet
    assert(seqs == (1L to 6L).toSet, s"got $seqs")
    // a second journal instance over the same dir re-derives the cache
    val j2 = new TickerFileJournal(spark, j.dir)
    j2.transition(Seq("b"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:09:00"))
    assert(j2.events.agg(max("batch_seq")).as[Long].head() == 7L)
  }

  test("journal at 1M files: bounded claim, oldest-first, compact in budget") {
    val j = freshJournal()
    val n = 1000000L
    // 1M files spread over 365 create_dates — a year of the reference's
    // per-ticker-per-day layout at ~2.7k tickers
    val cand = spark.range(n).select(
      format_string("t%07d", col("id")).as("filename"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 365).cast("int")).as("create_date"))
    assert(j.appendDiscovered(cand.as[(String, java.sql.Date)].collect().toSeq,
      ts("2024-08-08 10:00:00")) == n)
    assert(j.transitionWhere(_ => true, FileStatus.ReadyForProcessing,
      ts("2024-08-08 10:01:00")) == n)
    // bounded claim: exactly the 1000 OLDEST (create_date, filename) — only
    // 1000 rows ever reach the driver, regardless of journal size
    val claimed = j.claimReady(ts("2024-08-08 10:02:00"), limit = 1000)
    assert(claimed.size == 1000)
    // ids ≡ 0 (mod 365) land on 2024-01-01; the 1000 smallest filenames
    // among them are t0000000, t0000365, … (zero-padded → lexicographic
    // order IS numeric order)
    val expected = (0 until 1000).map(i => f"t${i * 365}%07d")
    assert(claimed.map(_._1) == expected)
    assert(claimed.forall(_._2.toString == "2024-01-01"))
    assert(j.byStatus(FileStatus.InProgress).count() == 1000)
    assert(j.byStatus(FileStatus.ReadyForProcessing).count() == n - 1000)
    // compaction collapses 3M events to the 1M-row snapshot, executor-side
    j.compact(ts("2024-08-08 11:00:00"))
    assert(j.events.count() == n)
    assert(j.countFiles() == n)
    // the view is still answerable post-compact
    assert(j.statusOf("t0000000").contains(FileStatus.InProgress))
    assert(j.statusOf("t0000001").contains(FileStatus.ReadyForProcessing))
  }

  test("compaction crash points: a reopened journal keeps the current view") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def copyDir(from: String, to: String): Unit =
      Files.list(Paths.get(from)).forEach(f => Files.copy(f,
        Paths.get(to).resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    def view(j: TickerFileJournal) = j.current.collect().map(_.toString).toSet
    // history across a snapshot and the batches after it
    val j = freshJournal()
    j.appendDiscovered(candidates("a" -> "2024-08-06", "b" -> "2024-08-07"), ts("2024-08-08 10:00:00"))
    j.transition(Seq("a"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    j.compact(ts("2024-08-08 10:02:00"))
    j.transition(Seq("a"), FileStatus.InProgress, ts("2024-08-08 10:03:00"))
    j.transition(Seq("b"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:04:00"))
    val before = view(j)
    val old = tmpDir("journal-old")
    copyDir(j.dir, old) // the log as the next compaction finds it
    j.compact(ts("2024-08-08 10:05:00"))
    val published = new java.io.File(j.dir).list().filterNot(_.startsWith(".")).toSeq
    assert(published.size == 1, s"compaction left $published")

    // crash after the new snapshot is published, before the old files go
    val afterPublish = tmpDir("journal-crash-published")
    copyDir(old, afterPublish)
    copyDir(j.dir, afterPublish)
    assert(view(new TickerFileJournal(spark, afterPublish)) == before)

    // crash mid-publish: a half-written temp file beside the old log
    val midPublish = tmpDir("journal-crash-tmp")
    copyDir(old, midPublish)
    val snap = Files.readAllBytes(Paths.get(j.dir, published.head))
    Files.write(Paths.get(midPublish, published.head + ".tmp"), snap.take(snap.length / 2))
    val reopened = new TickerFileJournal(spark, midPublish)
    assert(view(reopened) == before)
    // the journal keeps working from there, and the next compaction clears the leftovers
    reopened.transition(Seq("b"), FileStatus.InProgress, ts("2024-08-08 10:06:00"))
    reopened.compact(ts("2024-08-08 10:07:00"))
    assert(new java.io.File(midPublish).list().count(!_.startsWith(".")) == 1)
    assert(new TickerFileJournal(spark, midPublish).statusOf("b").contains(FileStatus.InProgress))
    assert(view(new TickerFileJournal(spark, midPublish)) == view(reopened))
  }

  test("A10 truncate empties the journal, also across a reopen") {
    val j = freshJournal()
    j.appendDiscovered(candidates("a" -> "2024-08-06"), ts("2024-08-08 10:00:00"))
    j.truncate()
    assert(j.countFiles() == 0 && j.maxBatchSeq == 0)
    assert(new TickerFileJournal(spark, j.dir).countFiles() == 0)
    // appends after a truncate start again at batch 1
    j.appendDiscovered(candidates("b" -> "2024-08-06"), ts("2024-08-08 10:01:00"))
    assert(new TickerFileJournal(spark, j.dir).knownAmong(Seq("a", "b")) == Seq("b"))
    assert(j.maxBatchSeq == 1)
  }

  test("concurrent mutators + compactions lose nothing (PipelineApp thread model)") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // 4 writer threads each own 25 disjoint files and walk them
    // DISCOVERED -> READY -> IN_PROGRESS while a 5th thread compacts
    // repeatedly — the exact interleave the app's flow scheduler + discovery
    // stream produce. Synchronized mutators must make every transition and
    // every compaction atomic: at the end all 100 files are IN_PROGRESS and
    // the compacted log holds exactly one event per file.
    val j = new TickerFileJournal(spark, tmpDir("journal-conc"))
    val files = (0 until 100).map(i => f"c$i%03d")
    j.appendDiscovered(files.map((_, dt("2024-01-01"))), ts("2024-08-08 09:00:00"))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(5)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until 4).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          start.await()
          val mine = files.slice(t * 25, t * 25 + 25)
          mine.foreach { f =>
            j.transition(Seq(f), FileStatus.ReadyForProcessing, ts("2024-08-08 09:01:00"))
            j.transition(Seq(f), FileStatus.InProgress, ts("2024-08-08 09:02:00"))
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    val compactor = pool.submit(new Runnable {
      def run(): Unit = try {
        start.await()
        (1 to 5).foreach { _ => j.compact(ts("2024-08-08 09:03:00")) }
      } catch { case e: Throwable => failures.add(e) }
    })
    start.countDown()
    (writers :+ compactor).foreach(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    assert(j.countFiles() == 100)
    assert(j.byStatus(FileStatus.InProgress).count() == 100) // nothing lost
    j.compact(ts("2024-08-08 09:04:00"))
    assert(j.events.count() == 100) // compacted to one event per file
  }
}
