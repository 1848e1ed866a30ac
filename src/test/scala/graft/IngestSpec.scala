package graft

import org.apache.spark.sql.functions._
import graft.ingest.{FileOutcome, TickerIngest}

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
}
