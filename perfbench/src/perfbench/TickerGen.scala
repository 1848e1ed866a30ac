package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDate, ZoneOffset}

/** Order-independent content signature of a set of ticker rows: the row
  * count and exact integer sums of every column (prices and sizes in
  * cents, times in epoch ms). The generator computes it from the values it
  * writes; the checks compute it from the warehouse.
  */
final case class Sig(n: Long, seq: Long, price: Long, size: Long, ask: Long,
    askSize: Long, bid: Long, bidSize: Long, timeMs: Long) {
  def +(o: Sig): Sig = Sig(n + o.n, seq + o.seq, price + o.price, size + o.size,
    ask + o.ask, askSize + o.askSize, bid + o.bid, bidSize + o.bidSize, timeMs + o.timeMs)
}
object Sig { val zero: Sig = Sig(0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** One valid generated row; money and sizes in cents. */
final case class Tick(ticker: String, seq: Long, price: Long, size: Long,
    ask: Long, askSize: Long, bid: Long, bidSize: Long, timeMs: Long) {
  def sig: Sig = Sig(1, seq, price, size, ask, askSize, bid, bidSize, timeMs)
}

/** What the generator wrote into one file: the expected outcome of
  * ingesting it. `arity` rows have too few fields; `typeErr` rows have the
  * right arity but a non-numeric price or sequence or an unparseable
  * timestamp. Neither kind may reach the warehouse, and both are corrupt
  * rows in the file's outcome.
  */
final case class FileSpec(name: String, date: LocalDate, ticker: String,
    valid: Sig, arity: Int, typeErr: Int) {
  def corrupt: Int = arity + typeErr
}

/** Malformed-row plan for one file. */
final case class Malformed(arity: Int, typeErr: Int)

/** Writes ticker CSV files (`<TICKER>_PST_<date>[_pNNNN]`, 9 fields, no
  * header) from a seed. Per ticker, sequences and timestamps strictly
  * increase, so every (ticker, time) is unique and a 1-minute OHLC has one
  * right open and close.
  */
object TickerGen {
  private def money(sb: java.lang.StringBuilder, c: Long): java.lang.StringBuilder = {
    sb.append(c / 100).append('.')
    if (c % 100 < 10) sb.append('0')
    sb.append(c % 100)
  }

  private def pad(sb: java.lang.StringBuilder, v: Long, width: Int): java.lang.StringBuilder = {
    val s = v.toString
    var i = s.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  /** `yyyy-MM-ddTHH:mm:ss.SSS` of a time on day `date` (UTC). */
  private def time(sb: java.lang.StringBuilder, date: LocalDate, ms: Long): java.lang.StringBuilder = {
    val t = ms - dayStartMs(date)
    require(t >= 0 && t < 86400000L, s"time $ms is not on $date")
    sb.append(date.toString).append('T')
    pad(sb, t / 3600000L, 2).append(':')
    pad(sb, t / 60000L % 60, 2).append(':')
    pad(sb, t / 1000L % 60, 2).append('.')
    pad(sb, t % 1000L, 3)
  }

  /** Writes `rows` valid rows spread evenly over [fromMs, toMs) plus the
    * malformed rows, interleaved at seeded positions. `tap` sees each valid
    * row. The file is written to `tmp` first and then renamed to `dest`
    * atomically, so a lister never sees a partial file.
    */
  def write(rnd: java.util.SplittableRandom, dest: File, tmp: File, ticker: String,
      date: LocalDate, seq0: Long, rows: Int, fromMs: Long, toMs: Long,
      bad: Malformed, tap: Tick => Unit = _ => ()): FileSpec = {
    tmp.getParentFile.mkdirs()
    dest.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(tmp), 1 << 16)
    val sb = new java.lang.StringBuilder(128)
    val nBad = bad.arity + bad.typeErr
    // seeded positions (before valid row i) of the malformed rows
    val badAt = Array.fill(nBad)(rnd.nextInt(rows + 1)).sorted
    val badKind = new scala.util.Random(rnd.nextLong())
      .shuffle(Seq.fill(bad.arity)(0) ++ Seq.fill(bad.typeErr)(1))
    var b = 0
    var sig = Sig.zero
    val step = (toMs - fromMs) / rows
    var price = 1000L + rnd.nextInt(90000)
    def line(): Unit = { sb.append('\n'); w.append(sb); sb.setLength(0) }
    def writeBad(kind: Int, seq: Long): Unit = {
      sb.append(ticker).append(',')
      if (kind == 0) money(sb.append(seq).append(','), price)
      else rnd.nextInt(3) match {
        case 0 => time(sb.append(seq).append(",n/a,1.00,1.00,1.00,1.00,1.00,"), date, fromMs)
        case 1 => time(money(sb.append('s').append(seq).append(','), price)
          .append(",1.00,1.00,1.00,1.00,1.00,"), date, fromMs)
        case _ => money(sb.append(seq).append(','), price)
          .append(",1.00,1.00,1.00,1.00,1.00,not-a-time")
      }
      line()
    }
    var i = 0
    while (i < rows) {
      while (b < nBad && badAt(b) == i) { writeBad(badKind(b), seq0 + i); b += 1 }
      price = math.max(100L, price + rnd.nextInt(41) - 20)
      val spread = 1 + rnd.nextInt(5)
      val t = Tick(ticker, seq0 + i, price, 1 + rnd.nextInt(50000),
        price + spread, 1 + rnd.nextInt(90000), price - spread, 1 + rnd.nextInt(90000),
        fromMs + i * step + rnd.nextLong(math.max(1L, step)))
      sb.append(ticker).append(',').append(t.seq).append(',')
      money(sb, t.price).append(',')
      money(sb, t.size).append(',')
      money(sb, t.ask).append(',')
      money(sb, t.askSize).append(',')
      money(sb, t.bid).append(',')
      money(sb, t.bidSize).append(',')
      time(sb, date, t.timeMs)
      line()
      sig = sig + t.sig
      tap(t)
      i += 1
    }
    while (b < nBad) { writeBad(badKind(b), seq0 + rows); b += 1 }
    w.close()
    java.nio.file.Files.move(tmp.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    FileSpec(dest.getName, date, ticker, sig, bad.arity, bad.typeErr)
  }

  def dayStartMs(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
}

/** Expected 1-minute OHLC of one ticker, accumulated from valid rows. */
final class OhlcAcc(val ticker: String, val fromMs: Long) {
  var open, high, low, close, volume = 0L
  var n = 0L
  private var firstT, lastT = 0L
  def add(t: Tick): Unit =
    if (t.ticker == ticker && t.timeMs >= fromMs && t.timeMs < fromMs + 60000L) {
      if (n == 0 || t.timeMs < firstT) { open = t.price; firstT = t.timeMs }
      if (n == 0 || t.timeMs > lastT) { close = t.price; lastT = t.timeMs }
      high = if (n == 0) t.price else math.max(high, t.price)
      low = if (n == 0) t.price else math.min(low, t.price)
      volume += t.size
      n += 1
    }
}
