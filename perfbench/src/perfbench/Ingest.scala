package perfbench

import java.io.File
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload phase measured and checked. */
final class Phase {
  val verdicts = mutable.ArrayBuffer[FileVerdict]()
  /** Op latency: rename-to-read freshness (daemon), build + exec (board). */
  val latencyMs = mutable.ArrayBuffer[Double]()
  /** Measured unit walls: backlog rounds, board queries. */
  val unitMs = mutable.ArrayBuffer[Double]()
  /** Per measured backlog round. */
  val drainMs, filesPerS = mutable.ArrayBuffer[Double]()
  val cycleMs, readMs = mutable.ArrayBuffer[Double]()
  var backlogRows, cycleRows, storedRows, storedBytes = 0L
  var units = 0
  /** Non-time layer counters summed over the phase's units. */
  val counters = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  /** Journal part files and event rows at the end of the phase. */
  var journalFiles, journalRows = 0L
}

object Ingest {
  val Tickers = Seq("AVA-USDT", "BTC-USDT", "ETH-USDT", "SOL-USDT",
    "XRP-USDT", "ADA-USDT", "DOT-USDT", "LTC-USDT")

  def baseDate(seed: Long): LocalDate = LocalDate.of(2024, 1, 1).plusDays(Math.floorMod(seed, 360L))

  /** Backlog rounds: the first finishes the JVM's warm-up after set-up
    * (its drain takes about a third longer than later ones); it is checked,
    * not measured.
    */
  val WarmRounds = 1
  val Rounds = 2
  /** Trickle cycles; the maintenance cadence runs every `MaintainEvery`. */
  val Cycles = 6
}

/** The `daemon` workload: one daemon, on one set of fresh directories, fed
  * by one generator thread in a closed loop.
  *
  * Trickle cycles (the steady state): each cycle publishes a few small
  * files, then runs discovery, advanceStatuses, processReady and two
  * dashboard reads of the new rows; every few cycles PipelineApp's
  * cleanup-cadence maintenance runs first. The simulated daemon runs one
  * day behind the publisher, like the reference, which loads a day's files
  * once the day has closed.
  *
  * Backlog rounds (the bulk backlog): each round publishes a few large
  * files over several past days plus some of today's, and drains them
  * through catchUp -> advanceStatuses -> processReady until nothing is
  * READY, then runs cleanup and two warehouse reads. Today's files must
  * stay DOWNLOADING and unloaded; a later "today" loads them.
  */
final class DaemonLoad(spark: SparkSession, tr: Tracer, dir: String, seed: Long, p: Phase) {
  import DaemonLoad._
  import Ingest._
  private val rnd = new SplittableRandom(seed * 7919L + 17)
  private val d = new Daemon(spark, tr, dir, TickerGen.dayStartMs(baseDate(seed)))
  private val nextSeq = mutable.Map[String, Long]().withDefaultValue(1L)
  private val expects = mutable.LinkedHashMap[String, Expect]()
  private val extra = mutable.Map[String, Seq[String]]().withDefaultValue(Nil)
  /** The day the next files go to; `dayUsed` once trickle files are in it. */
  private var day = baseDate(seed)
  private var dayUsed = false
  /** Newest day whose files are all FINISHED. */
  private var lastFinishedDay = day.minusDays(1)
  private val typeParity = rnd.nextInt(2)
  private var round, cycle = 0

  private def publish(t: String, date: LocalDate, tag: String, rows: Int, fromMs: Long, toMs: Long,
      bad: Malformed, tap: Tick => Unit = _ => ()): FileSpec = {
    val f = d.publish(rnd, t, date, s"${t}_PST_${date}_$tag", nextSeq(t), rows, fromMs, toMs, bad, tap)
    nextSeq(t) += rows
    expects(f.name) = Expect(f, "FINISHED", loaded = true, present = true)
    f
  }

  /** Files of days before the day before the newest FINISHED day are
    * garbage once FINISHED; cleanup must have deleted them, and nothing
    * else. Checked on the filesystem right after each cleanup.
    */
  private def checkCleanup(exclude: Set[String]): Unit = {
    expects.valuesIterator.toSeq
      .filter(e => e.present && e.status == "FINISHED" && e.spec.date.plusDays(1).isBefore(lastFinishedDay))
      .foreach(e => expects(e.spec.name) = e.copy(present = false))
    expects.values.filterNot(e => exclude(e.spec.name)).foreach { e =>
      if (d.path(e.spec).exists() != e.present)
        extra(e.spec.name) :+= s"after cleanup: present=${!e.present}, expected ${e.present}"
      else if (!e.present && new File(s"${d.root}/${e.spec.date}").exists())
        extra(e.spec.name) :+= s"emptied dir ${e.spec.date} not removed"
    }
  }

  def backlogRound(measured: Boolean): Unit = {
    val k = round
    // backlog files never share a day with trickle files of the same tickers
    if (dayUsed) { day = day.plusDays(1); dayUsed = false }
    val past = (0 until PastDays).map(i => day.plusDays(i.toLong))
    val today = day.plusDays(PastDays.toLong)
    // last round's today files are past-day files now: this drain loads them
    val leftovers = expects.values.filter(_.status == "DOWNLOADING").map(_.spec).toSeq
    leftovers.foreach(f => expects(f.name) = Expect(f, "FINISHED", loaded = true, present = true))
    val slots = for (date <- past; j <- 0 until FilesPerDay) yield (date, j)
    // seed-chosen files: 1/6 carry type-error rows, another 1/6 arity errors only
    val shuffled = new scala.util.Random(rnd.nextLong()).shuffle(slots.indices.toList)
    val typeErr = shuffled.take(slots.size / 6).toSet
    val arity = shuffled.slice(slots.size / 6, slots.size / 3).toSet
    val (pointFile, pointRow) = (rnd.nextInt(slots.size), rnd.nextInt(Rows))
    val (ohlcFile, ohlcMinute) = (rnd.nextInt(slots.size), rnd.nextInt(1440))
    var pointTick: Tick = null
    var bar: OhlcAcc = null
    val specs = slots.zipWithIndex.map { case ((date, j), i) =>
      val t = Tickers(j)
      val bad =
        if (typeErr(i)) Malformed(rnd.nextInt(3), 2 + rnd.nextInt(4))
        else if (arity(i)) Malformed(2 + rnd.nextInt(4), 0)
        else Malformed(0, 0)
      val from = TickerGen.dayStartMs(date)
      val seq0 = nextSeq(t)
      if (i == ohlcFile) bar = new OhlcAcc(t, from + ohlcMinute * 60000L)
      publish(t, date, s"b$k", Rows, from, from + 86400000L, bad, { tick =>
        if (i == pointFile && tick.seq == seq0 + pointRow) pointTick = tick
        if (i == ohlcFile) bar.add(tick)
      })
    }
    // today's files use tickers no backlog file uses, so reads never mix them
    val todays = (0 until TodayFiles).map { j =>
      val from = TickerGen.dayStartMs(today)
      val f = publish(Tickers(Tickers.size - 1 - j), today, s"t$k", TodayRows, from, from + 3600000L,
        Malformed(0, 0))
      expects(f.name) = Expect(f, "DOWNLOADING", loaded = false, present = true)
      f
    }

    tr.trace(s"round-$k")
    val t0 = System.nanoTime()
    d.discover(today)
    d.advance(today)
    d.process()
    val t1 = System.nanoTime()
    d.cleanup(today)
    val point = d.pointRead(specs(pointFile).date, pointTick.ticker, pointTick.seq)
    val bars = d.ohlcRead(specs(ohlcFile).date, bar.fromMs)
    val t2 = System.nanoTime()

    Checks.point(point, pointTick, specs(pointFile).name).foreach(m => extra(specs(pointFile).name) :+= m)
    Checks.ohlc(bars, bar).foreach(m => extra(specs(ohlcFile).name) :+= m)
    lastFinishedDay = past.last
    checkCleanup(Set.empty)
    // today's files: still DOWNLOADING, nothing of their day in the warehouse
    tr.span("check", Tracer.Harness) {
      val st = d.statuses(todays.map(_.name))
      todays.foreach { f =>
        if (!st.get(f.name).contains("DOWNLOADING"))
          extra(f.name) :+= s"today's file is ${st.getOrElse(f.name, "unknown")}, expected DOWNLOADING"
        if (new File(s"${d.wh}/file_date=$today").exists())
          extra(f.name) :+= s"today's partition $today is in the warehouse"
      }
    }
    if (measured) {
      val rows = (specs ++ leftovers).map(_.valid.n).sum
      val drainS = (t1 - t0) / 1e9
      p.drainMs += drainS * 1000
      p.backlogRows += rows
      p.filesPerS += (specs.size + leftovers.size) / drainS
      p.readMs ++= Seq(tr.samples.get("reads.point").last, tr.samples.get("reads.ohlc").last)
      p.units += 1
      p.unitMs += (t2 - t0) / 1e6
    }
    System.err.println(f"[perfbench] round $k: drain ${(t1 - t0) / 1e9}%.2f s, " +
      f"cleanup+reads ${(t2 - t1) / 1e9}%.2f s" + (if (measured) "" else " (warm-up)"))
    round += 1
    day = today
  }

  /** One cycle's files: one carries malformed rows, alternately type
    * errors and arity errors only, so 1 in 8 files has type errors.
    */
  def trickleCycle(): Unit = {
    val k = cycle
    val cday = day
    val today = cday.plusDays(1)
    val slotMs = 86400000L / CyclesPerDay
    val from = TickerGen.dayStartMs(cday) + (k % CyclesPerDay) * slotMs
    val barFrom = from + rnd.nextInt((slotMs / 60000L).toInt) * 60000L
    val (pointFile, pointRow) = (rnd.nextInt(FilesPerCycle), rnd.nextInt(CycleRows))
    val accs = (0 until FilesPerCycle).map(j => new OhlcAcc(Tickers(j), barFrom))
    val pointSeq = nextSeq(Tickers(pointFile)) + pointRow
    var pointTick: Tick = null
    val badFile = rnd.nextInt(FilesPerCycle)
    val badType = (k + typeParity) % 2 == 0
    val maintain = k % MaintainEvery == MaintainEvery - 1

    tr.trace(s"cycle-$k")
    val t0 = System.nanoTime()
    val published = tr.span("publish", "publish") {
      (0 until FilesPerCycle).map { j =>
        val bad =
          if (j != badFile) Malformed(0, 0)
          else if (badType) Malformed(rnd.nextInt(2), 2 + rnd.nextInt(3))
          else Malformed(2 + rnd.nextInt(3), 0)
        val f = publish(Tickers(j), cday, f"p$k%04d", CycleRows, from, from + slotMs, bad, { tick =>
          accs(j).add(tick)
          if (j == pointFile && tick.seq == pointSeq) pointTick = tick
        })
        (f, System.nanoTime())
      }
    }
    if (maintain) d.maintain(today)
    d.discover(today)
    d.advance(today)
    d.process()
    val point = d.pointRead(cday, pointTick.ticker, pointTick.seq)
    val bars = d.ohlcRead(cday, barFrom)
    val t1 = System.nanoTime()

    // freshness: rename -> a read returned the file's rows
    published.foreach { case (_, renamedAt) => p.latencyMs += (t1 - renamedAt) / 1e6 }
    p.readMs ++= Seq(tr.samples.get("reads.point").last, tr.samples.get("reads.ohlc").last)
    val pf = published(pointFile)._1.name
    Checks.point(point, pointTick, pf).foreach(m => extra(pf) :+= m)
    published.zip(accs).foreach { case ((f, _), a) => Checks.ohlc(bars, a).foreach(m => extra(f.name) :+= m) }
    // all earlier files are FINISHED, this cycle's not yet discovered at cleanup
    if (maintain) checkCleanup(published.map(_._1.name).toSet)
    expects.values.filter(_.status == "DOWNLOADING").map(_.spec)
      .foreach(f => expects(f.name) = Expect(f, "FINISHED", loaded = true, present = true))
    lastFinishedDay = cday
    p.cycleMs += (t1 - t0) / 1e6
    p.cycleRows += published.map(_._1.valid.n).sum
    cycle += 1
    dayUsed = cycle % CyclesPerDay != 0
    if (!dayUsed) day = day.plusDays(1)
  }

  /** End-of-run checks over every file published, in its final state. */
  def finish(): Unit = {
    val vs = tr.span("check", Tracer.Harness) { Checks.files(spark, d, expects.values.toSeq) }.map(v =>
      if (extra(v.name).isEmpty) v else v.copy(failures = v.failures ++ extra(v.name), defect = false))
    p.verdicts ++= vs
    val ok = vs.zip(expects.values).filter(x => x._1.ok || x._1.defect).map(_._2.spec.valid.n).sum
    p.storedRows += ok
    p.storedBytes += d.warehouseFiles._2
    d.counters.foreach { case (k, v) => p.counters(k) += v }
    if (tr.record) tr.span("check", Tracer.Harness) {
      val (jf, jr) = d.journalSize
      p.journalFiles = jf
      p.journalRows = jr
    }
  }
}

object DaemonLoad {
  val PastDays = 6
  val FilesPerDay = 2
  val Rows = 30000
  val TodayFiles = 2
  val TodayRows = 4000
  val FilesPerCycle = 4
  val CycleRows = 2000
  val CyclesPerDay = 6
  val MaintainEvery = 3
}

object Files {
  /** Parquet part files under `dir` (skipping `_`/`.` entries): count, bytes. */
  def parts(dir: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith(".")).flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    val fs = walk(dir)
    (fs.size.toLong, fs.map(_.length()).sum)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }
}
