package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.ingest.{FileOutcome, TickerIngest}
import graft.journal.TickerFileJournal
import graft.pipeline.{Lifecycle, RetryPolicy}
import graft.schema.FileStatus

/** Ingest-path details beyond the Flow3 e2e: GZIP codec (the reference
  * compresses every upload — B13; Spark decompresses *.gz natively),
  * quarantine preservation, filename→(ticker,date) derivation.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val good =
    "AVA-USDT,123456789,0.6123,15.2,0.6125,100.0,0.6121,80.5,2024-03-14T12:34:56.123"

  test("gzip-compressed ticker CSVs load transparently") {
    val root = tmpDir("gz")
    new java.io.File(s"$root/2024-03-14").mkdirs()
    val path = s"$root/2024-03-14/AVA-USDT_PST_2024-03-14.csv.gz"
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(path))
    out.write(s"$good\n$good".getBytes); out.close()
    val wh = tmpDir("gzwh")
    val report = TickerIngest.ingest(spark, Seq(path), wh)
    assert(report.totalRows == 2 && report.totalCorrupt == 0)
    val loaded = TickerIngest.warehouse(spark, wh)
    assert(loaded.count() == 2)
    assert(loaded.select("ticker_from_name").distinct().as[String].head() == "AVA-USDT")
    assert(loaded.select("file_date").distinct().as[java.sql.Date].head() == dt("2024-03-14"))
  }

  test("quarantine dir preserves corrupt rows for reprocessing") {
    val root = tmpDir("qr")
    new java.io.File(s"$root/2024-03-14").mkdirs()
    val path = s"$root/2024-03-14/BTC-USDT_PST_2024-03-14"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      s"$good\nnot,a,valid,row\n$good".getBytes)
    val wh = tmpDir("qrwh")
    val qd = tmpDir("qrq")
    val report = TickerIngest.ingest(spark, Seq(path), wh, Some(qd))
    assert(report.totalRows == 2 && report.totalCorrupt == 1)
    val quarantined = spark.read.parquet(qd)
    assert(quarantined.count() == 1)
    assert(quarantined.select("_corrupt_record").as[String].head() == "not,a,valid,row")
  }

  test("malformed rows: arity, type and timestamp errors are quarantined, never loaded") {
    val root = tmpDir("bad")
    new java.io.File(s"$root/2024-03-14").mkdirs()
    val name = "SOL-USDT_PST_2024-03-14"
    def row(seq: String, price: String, at: String) =
      s"SOL-USDT,$seq,$price,15.2,0.6125,100.0,0.6121,80.5,$at"
    val at = "2024-03-14T12:34:56.123"
    val bad = Seq(
      "SOL-USDT,5,0.6123,15.2",      // truncated arity
      row("6", "n/a", at),           // non-numeric price
      row("s7", "0.6123", at),       // non-numeric sequence
      row("8", "0.6123", "not-a-time")) // unparseable timestamp
    val lines = Seq(row("1", "0.6123", at), bad(0), row("2", "0.6123", at)) ++
      bad.tail :+ row("3", "0.6123", at)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/2024-03-14/$name"),
      lines.mkString("\n").getBytes)
    val wh = tmpDir("badwh")
    val qd = tmpDir("badq")
    val report = TickerIngest.ingest(spark, Seq(s"$root/2024-03-14/$name"), wh, Some(qd))
    assert(report.outcomes == Seq(FileOutcome(name, 3, 4)))
    assert(report.totalRows == 3 && report.totalCorrupt == 4)
    assert(spark.read.parquet(qd).select("_corrupt_record").as[String].collect().toSet == bad.toSet)
    val loaded = TickerIngest.warehouse(spark, wh)
    assert(loaded.select("sequence").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("commit survives a RELATIVE warehouse path and sweeps abandoned staging") {
    // regression 1: with an unqualified destination, the staged file would
    // "rename" onto its own absolute path and the staging delete would
    // destroy the only copy of the rows (silent data loss behind FINISHED)
    val root = tmpDir("rel")
    new java.io.File(s"$root/2024-03-14").mkdirs()
    val path = s"$root/2024-03-14/AVA-USDT_PST_2024-03-14"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), good.getBytes)
    val relWh = s"target/tmp-relwh-${java.util.UUID.randomUUID()}"
    try {
      // regression 2: a failed earlier attempt's staging must be GC'd by the
      // next successful commit, not leak a staged copy forever
      val abandoned = new java.io.File(s"$relWh/_staging/deadbeef/file_date=2024-03-13")
      abandoned.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"${abandoned.getPath}/part-leak.parquet"), "junk".getBytes)

      val report = TickerIngest.ingest(spark, Seq(path), relWh)
      assert(report.totalRows == 1)
      assert(TickerIngest.warehouse(spark, relWh).count() == 1) // rows survived the move
      assert(!new java.io.File(s"$relWh/_staging").exists())    // all staging swept
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(relWh))
    }
  }

  test("typed schema: price/size parse as doubles, transactionTime as timestamp") {
    val root = tmpDir("ty")
    new java.io.File(s"$root/2024-03-14").mkdirs()
    val path = s"$root/2024-03-14/ETH-USDT_PST_2024-03-14"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), good.getBytes)
    val df = TickerIngest.validRows(TickerIngest.read(spark, Seq(path)))
    val r = df.head()
    assert(r.getAs[Double]("price") == 0.6123)
    assert(r.getAs[Long]("sequence") == 123456789L)
    assert(r.getAs[java.sql.Timestamp]("transactionTime") ==
      ts("2024-03-14 12:34:56.123"))
  }

  /** Runs `body` and counts the Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    SparkInternals.drainListenerBus(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      SparkInternals.drainListenerBus(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `body` on another thread, failing instead of hanging past `seconds`. */
  private def within[T](seconds: Int)(body: => T): T = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    Await.result(Future(body)(ExecutionContext.global), scala.concurrent.duration.Duration(seconds, "s"))
  }

  private def tickerFile(root: String, date: String, name: String, lines: Seq[String]): String = {
    new java.io.File(s"$root/$date").mkdirs()
    val path = s"$root/$date/$name"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("\n").getBytes)
    path
  }

  private def tick(ticker: String, seq: Int, date: String) =
    s"$ticker,$seq,0.6123,15.2,0.6125,100.0,0.6121,80.5,${date}T12:34:56.123"

  test("one job per clean batch, quarantine or not; one part file per file_date") {
    val root = tmpDir("jobs")
    val paths = for (d <- Seq("2024-03-14", "2024-03-15"); t <- Seq("AVA-USDT", "BTC-USDT"))
      yield tickerFile(root, d, s"${t}_PST_$d", (1 to 50).map(tick(t, _, d)))
    val wh = tmpDir("jobswh")
    val (staged, jobs) = jobsOf(TickerIngest.stage(spark, paths, wh))
    assert(jobs == 1)
    assert(staged.report.totalRows == 200 && staged.report.totalCorrupt == 0)
    TickerIngest.commit(spark, staged)
    for (d <- Seq("2024-03-14", "2024-03-15"))
      assert(new java.io.File(s"$wh/file_date=$d").list().count(_.startsWith("part-")) == 1, d)
    val (withQr, jobsQr) = jobsOf(TickerIngest.stage(spark, paths, tmpDir("jobswh2"), Some(tmpDir("jobsq"))))
    assert(jobsQr == 1)
    assert(withQr.report.outcomes.map(_.rows) == Seq(50L, 50L, 50L, 50L))
  }

  test("a batch with malformed rows and a quarantine dir runs two jobs") {
    val root = tmpDir("jobsbad")
    val d = "2024-03-14"
    val path = tickerFile(root, d, s"SOL-USDT_PST_$d",
      Seq(tick("SOL-USDT", 1, d), "SOL-USDT,2,0.6", tick("SOL-USDT", 3, d).replace("0.6123", "n/a")))
    val qd = tmpDir("jobsbadq")
    val (staged, jobs) = jobsOf(TickerIngest.stage(spark, Seq(path), tmpDir("jobsbadwh"), Some(qd)))
    assert(jobs == 2)
    assert(staged.report.outcomes == Seq(FileOutcome(s"SOL-USDT_PST_$d", 1, 2)))
  }

  test("a fault in the staged write throws, publishes nothing, and a retry reports exact outcomes") {
    val root = tmpDir("fault")
    val d = "2024-03-14"
    tickerFile(root, d, s"AVA-USDT_PST_$d", (1 to 20).map(tick("AVA-USDT", _, d)))
    tickerFile(root, d, s"BTC-USDT_PST_$d", (1 to 10).map(tick("BTC-USDT", _, d)) :+ "BTC-USDT,11")
    // not gzip despite its name: its read task fails inside the write job
    val broken = tickerFile(root, d, "ETH-USDT_PST_2024-03-14.gz", Seq("not gzip"))
    val (wh, qd) = (tmpDir("faultwh"), tmpDir("faultq"))
    def published(dir: String) = new java.io.File(dir).list().filterNot(_.startsWith("_")).toSeq
    var attempts = 0
    var afterFault = Seq.empty[String]
    val ingestFn: (org.apache.spark.sql.SparkSession, Seq[String], String, Option[String]) =>
        TickerIngest.StagedIngest = (s, paths, w, q) => {
      attempts += 1
      if (attempts == 2) afterFault = published(wh) ++ published(qd)
      TickerIngest.stage(s, if (attempts == 1) paths :+ broken else paths, w, q)
    }
    val j = new TickerFileJournal(spark, tmpDir("faultj"))
    j.appendDiscovered(Seq((s"AVA-USDT_PST_$d", dt(d)), (s"BTC-USDT_PST_$d", dt(d))),
      ts("2024-03-15 09:00:00"))
    j.transitionWhere(_ => true, FileStatus.ReadyForProcessing, ts("2024-03-15 09:00:01"))
    val rep = within(300)(Lifecycle.processReady(spark, j, root, wh, ts("2024-03-15 09:00:02"),
      Some(qd), RetryPolicy(2, 0L), ingestFn))
    assert(attempts == 2)
    assert(afterFault.isEmpty, s"the failed attempt published $afterFault")
    assert(rep.finished == 2 && rep.errored == 0 && rep.rows == 30 && rep.corruptRows == 1)
    assert(TickerIngest.warehouse(spark, wh).count() == 30)
    assert(spark.read.parquet(qd).count() == 1)
    assert(!new java.io.File(s"$wh/_staging").exists() && !new java.io.File(s"$qd/_staging").exists())
  }

  test("a batch of empty files stages nothing and does not block on its counts") {
    val root = tmpDir("empty")
    val paths = Seq("AVA-USDT", "BTC-USDT").map(t => tickerFile(root, "2024-03-14", s"${t}_PST_2024-03-14", Nil))
    val staged = within(120)(TickerIngest.stage(spark, paths, tmpDir("emptywh"), Some(tmpDir("emptyq"))))
    assert(staged.report == graft.ingest.IngestReport(Nil, 0L, 0L))
  }

  test("writeTasks: one task per T = min(maxPartitionBytes, max(openCost, bytes / cores)) bytes") {
    val (mb, split, open) = (1L << 20, 128L << 20, 4L << 20)
    assert(TickerIngest.writeTasks(600000L, split, open, 4) == 1)
    assert(TickerIngest.writeTasks(35 * mb, split, open, 4) == 4)
    assert(TickerIngest.writeTasks(35 * mb, split, open, 32) == 9)
    val huge = 25L << 30
    val n = TickerIngest.writeTasks(huge, split, open, 4)
    assert((huge + n - 1) / n <= split && n == 200)
  }
}
