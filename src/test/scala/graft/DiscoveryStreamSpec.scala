package graft

import java.time.LocalDate
import org.apache.spark.sql.streaming.Trigger
import graft.journal.TickerFileJournal
import graft.schema.FileStatus
import graft.streaming.Discovery

/** Streaming discovery e2e — mirrors the reference's live-watcher test
  * (`SaveNewFilesToDbFlowTest.java:129-182`): drop real files in date dirs,
  * run micro-batches, assert the journal.
  */
class DiscoveryStreamSpec extends SparkSpec {

  private def touch(root: String, date: String, name: String): Unit = {
    val dir = new java.io.File(s"$root/$date"); dir.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/$date/$name"),
      "x".getBytes)
    ()
  }

  test("stream discovers existing and newly-arriving files exactly once") {
    val root = tmpDir("streamRoot")
    touch(root, "2024-08-07", "preexisting")
    val j = new TickerFileJournal(spark, tmpDir("journal"))
    val q = Discovery.stream(spark, j, root, tmpDir("ckpt"),
      maxFilesPerTrigger = 100, trigger = Trigger.ProcessingTime(0),
      nowFn = () => ts("2024-08-08 10:00:00"))
    try {
      q.processAllAvailable()
      assert(j.statusOf("preexisting").contains(FileStatus.Discovered))
      // midnight rollover: a new date dir is picked up by the same glob
      touch(root, "2024-08-08", "newArrival")
      q.processAllAvailable()
      assert(j.statusOf("newArrival").contains(FileStatus.Discovered))
      assert(j.countFiles() == 2)
      // replays don't duplicate (anti-join + source seen-file tracking)
      q.processAllAvailable()
      assert(j.countFiles() == 2)
    } finally q.stop()
  }

  test("catch-up scan starts from the journal's max date") {
    val root = tmpDir("catchupRoot")
    touch(root, "2024-08-05", "old")
    touch(root, "2024-08-07", "recent")
    val j = new TickerFileJournal(spark, tmpDir("journal"))
    // journal already knows 2024-08-06 → only >= 2024-08-06 dirs are scanned
    j.appendDiscovered(Seq(("seen", dt("2024-08-06"))), ts("2024-08-08 09:00:00"))
    val n = Discovery.catchUp(spark, j, root, LocalDate.parse("2024-08-08"),
      ts("2024-08-08 10:00:00"))
    assert(n == 1)
    assert(j.statusOf("recent").contains(FileStatus.Discovered))
    assert(j.statusOf("old").isEmpty) // before catch-up window, like the reference
  }
}
