package perfbench

import java.io.File
import java.sql.Timestamp
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.ingest.FileOutcome

/** Shows that the checks can fail. */
object SelfTest {
  /** Feeds the pure check functions a right observation and tampered
    * ones; returns a message per tampered observation that still passed
    * (empty = every check can fail). Runs in every measured run.
    */
  def inMemory(): Seq[String] = {
    val spec = FileSpec("AVA-USDT_PST_2024-01-02", LocalDate.of(2024, 1, 2), "AVA-USDT",
      Sig(3, 6, 300, 30, 303, 33, 297, 27, 3000), arity = 1, typeErr = 1)
    val e = Expect(spec, "FINISHED", loaded = true, present = false)
    def v(wh: Sig = spec.valid, present: Boolean = false, rows: Long = 3, corrupt: Long = 2) =
      Checks.verdict(e, Some("FINISHED"), Some(wh), 0L,
        Some(FileOutcome(spec.name, rows, corrupt)), present)
    val tick = Tick("AVA-USDT", 5, 101, 2, 102, 3, 100, 4, 1704153600000L)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("ticker", "string").add("sequence", "long").add("price", "double").add("size", "double")
      .add("bestAsk", "double").add("bestAskSize", "double").add("bestBid", "double")
      .add("bestBidSize", "double").add("transactionTime", "timestamp").add("filename", "string")
    def row(price: Double) = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any]("AVA-USDT", 5L, price, 0.02, 1.02, 0.03, 1.00, 0.04,
        new Timestamp(tick.timeMs), spec.name), schema): Row
    val cases = Seq(
      "right observation" -> !v().ok,
      "hand-corrupted warehouse row" -> v(wh = spec.valid.copy(price = spec.valid.price + 1)).ok,
      "missing cleanup deletion" -> v(present = true).ok,
      "type-error rows counted as loaded" -> v(rows = 4, corrupt = 1).ok,
      "right point lookup" -> Checks.point(Array(row(1.01)), tick, spec.name).nonEmpty,
      "wrong point lookup" -> Checks.point(Array(row(1.02)), tick, spec.name).isEmpty)
    cases.collect { case (name, wrong) if wrong => s"check logic: $name judged wrongly" }
  }

  /** On-disk self-test: a small drained backlog, then a hand-corrupted
    * warehouse row and an input file restored after cleanup deleted it.
    * Each must turn its file's verdict to failed, and nothing else.
    */
  def run(spark: SparkSession, o: Main.Opts): String = {
    val tr = new Tracer(spark.sparkContext, new Samples)
    val d = new Daemon(spark, tr, s"${o.work}/selftest", 0L)
    val rnd = new java.util.SplittableRandom(o.seed)
    val base = LocalDate.of(2024, 2, 1)
    val today = base.plusDays(5)
    val specs = (1 to 4).map { i =>
      val day = base.plusDays(i.toLong)
      val from = TickerGen.dayStartMs(day)
      d.publish(rnd, "BTC-USDT", day, s"BTC-USDT_PST_$day", 1L, 1000, from, from + 3600000L,
        Malformed(2, 0))
    }
    d.discover(today); d.advance(today); d.process(); d.cleanup(today)
    val expects = specs.map(f =>
      Expect(f, "FINISHED", loaded = true, present = !f.date.plusDays(1).isBefore(specs.last.date)))
    def failing = Checks.files(spark, d, expects).filterNot(_.ok).map(_.name).toSet
    val msgs = scala.collection.mutable.ArrayBuffer[String]()
    val clean = failing
    msgs += s"untampered: ${if (clean.isEmpty) "all files pass" else s"UNEXPECTED failures $clean"}"

    // corrupt one row's price in the newest partition
    val victim = specs.last
    val part = s"${d.wh}/file_date=${victim.date}"
    val rows = spark.read.parquet(part).collect()
    val schema = spark.read.parquet(part).schema
    val pi = schema.fieldIndex("price")
    val tampered = rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(pi, rows(0).getDouble(pi) + 0.01)))
    Files.deleteTree(new File(part))
    spark.createDataFrame(tampered.toSeq.asJava, schema).coalesce(1).write.parquet(part)
    val afterRow = failing
    msgs += s"hand-corrupted warehouse row in ${victim.name}: " +
      (if (afterRow == Set(victim.name)) "detected" else s"NOT DETECTED (failing: $afterRow)")

    // bring back an input file that cleanup deleted
    val gone = expects.find(!_.present).get.spec
    d.path(gone).getParentFile.mkdirs()
    java.nio.file.Files.writeString(d.path(gone).toPath, "restored\n")
    val afterGc = failing
    msgs += s"missing cleanup deletion of ${gone.name}: " +
      (if (afterGc == Set(victim.name, gone.name)) "detected" else s"NOT DETECTED (failing: $afterGc)")
    inMemory().foreach(msgs += _)
    val ok = clean.isEmpty && afterRow == Set(victim.name) && afterGc == Set(victim.name, gone.name) &&
      inMemory().isEmpty
    Files.deleteTree(new File(s"${o.work}/selftest"))
    // a few board queries, for the oracle half of the self-test in run.py
    val board = new Board(spark, tr, o.data)
    board.order.take(3).foreach(board.step)
    Json.obj("selftest_ok" -> ok.toString, "messages" -> Json.arr(msgs.map(Json.str)),
      "board" -> board.writeOutputs(s"${o.work}/board-out"))
  }
}
