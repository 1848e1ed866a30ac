package graft.journal

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField}
import graft.schema.{FileStatus, Schemas}

/** The metadata journal — our native replacement for the reference's
  * ClickHouse `ticker_files` table and its 11 DAO query shapes
  * (`/root/reference/MainService/src/main/java/com/crypto/service/dao/ClickHouseDAO.java:31-202`).
  * The reference mutates rows in place (`ClickHouseDAO.java:169-182`); here
  * every status change is an event `(filename, create_date, status,
  * updated_at, batch_seq)` and a file's status is its latest event by
  * `(updated_at, batch_seq)` (SURVEY §2.1 op 9).
  *
  * The journal is metadata — one row per *file* — so it lives on the driver,
  * kept the way Structured Streaming keeps its offset and commit logs: a map
  * from filename to latest event, backed by an append-only log under `dir`.
  * Each mutator writes one batch file `<gen>-<seq>.batch` under a temp name
  * and renames it into place before it returns; [[compact]] publishes
  * `<gen+1>.snapshot` by the same rename and only then deletes older files.
  * A new instance replays the newest snapshot and its generation's batches
  * and ignores everything else (temp files, a superseded generation), so no
  * crash point loses a published event. The journal starts no Spark job of
  * its own: its DataFrame views are local relations.
  *
  * Concurrency contract (SURVEY §7.4 hard part 1): single writer, like the
  * reference's one scheduler thread per flow step. Mutators are synchronized
  * on the instance (PipelineApp's flows and discovery stream share one
  * journal across threads); readers see the map each mutator publishes whole.
  */
class TickerFileJournal(val spark: SparkSession, val dir: String) {
  import TickerFileJournal._

  private val (fs, root) = graft.ingest.HadoopFs.forPath(spark, dir)

  private var gen = 0L // snapshot generation the log extends
  private var seq = 0L // its last batch_seq
  @volatile private var files = Map.empty[String, Event]

  locally {
    val (g, seqs) = liveLog()
    gen = g
    seq = seqs.lastOption.getOrElse(0L)
    files = latestWins(files, replay(g, seqs).iterator)
  }

  /** The newest snapshot generation on disk and its batch seqs, ascending. */
  private def liveLog(): (Long, Seq[Long]) = {
    val names = if (fs.exists(root)) fs.listStatus(root).map(_.getPath.getName).toSeq else Nil
    // reopening such a dir as empty would re-journal, and reload, every file on disk
    require(!names.exists(_.startsWith("part-")),
      s"$dir holds a parquet event log from an earlier journal format, which this one does not read")
    val g = names.collect { case SnapshotFile(g) => g.toLong }.maxOption.getOrElse(0L)
    (g, names.collect { case BatchFile(bg, s) if bg.toLong == g => s.toLong }.sorted)
  }

  private def replay(g: Long, seqs: Seq[Long]): Seq[Event] =
    (if (g > 0) read(s"$g.snapshot", 0L) else Nil) ++ seqs.flatMap(s => read(s"$g-$s.batch", s))

  private def read(name: String, batchSeq: Long): Seq[Event] = {
    val in = new DataInputStream(new BufferedInputStream(fs.open(new Path(root, name))))
    try {
      require(in.readUTF() == Format, s"journal file $name: unknown format")
      Seq.fill(in.readInt()) {
        Event(in.readUTF(), Date.valueOf(LocalDate.ofEpochDay(in.readLong())),
          FileStatus.fromName(in.readUTF()), timestamp(in.readLong(), in.readInt()), batchSeq)
      }
    } finally in.close()
  }

  /** Writes `events` to `name` under a temp name, then renames it into place. */
  private def publish(name: String, events: Iterable[Event]): Unit = {
    val (tmp, dst) = (new Path(root, name + ".tmp"), new Path(root, name))
    val out = new DataOutputStream(new BufferedOutputStream(fs.create(tmp, true)))
    try {
      out.writeUTF(Format)
      out.writeInt(events.size)
      events.foreach { e =>
        out.writeUTF(e.filename); out.writeLong(e.createDate.toLocalDate.toEpochDay)
        out.writeUTF(e.status.name); out.writeLong(e.updatedAt.getTime); out.writeInt(e.updatedAt.getNanos)
      }
    } finally out.close()
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"journal publish failed: $tmp -> $dst")
  }

  /** Appends `hit` moved to `to` as the next batch. Caller holds the lock. */
  private def append(hit: Seq[Event], to: FileStatus, now: Timestamp): Long = {
    if (hit.nonEmpty) {
      val batch = hit.map(_.copy(status = to, updatedAt = now, batchSeq = seq + 1))
      publish(s"$gen-${seq + 1}.batch", batch)
      seq += 1
      files = latestWins(files, batch.iterator)
    }
    hit.size.toLong
  }

  private def movable(e: Event, to: FileStatus): Boolean =
    e.status != to && FileStatus.canTransition(e.status, to)

  /** One row per file with its current status. */
  def current: DataFrame = frame(files.values)

  private def frame(events: Iterable[Event]): DataFrame =
    spark.createDataFrame(events.map(e =>
      Row(e.filename, e.createDate, e.status.name, e.updatedAt)).toSeq.asJava, Schemas.tickerFile)

  /** The logged events since the last compaction (the snapshot is batch 0). */
  def events: DataFrame = this.synchronized {
    spark.createDataFrame(replay(gen, liveLog()._2).map(e =>
      Row(e.filename, e.createDate, e.status.name, e.updatedAt, e.batchSeq)).asJava,
      Schemas.tickerFile.add(StructField("batch_seq", LongType)))
  }

  /** Snapshot-isolation read: the latest-wins view AS OF batch `seq`,
    * immune to later appends. [[compact]] folds history into batch 0, so
    * snapshots reach back only to the last compaction.
    */
  def asOf(seq: Long): DataFrame = this.synchronized {
    frame(latestWins(Map.empty, replay(gen, liveLog()._2.filter(_ <= seq)).iterator).values)
  }

  /** Highest batch_seq in the log (0 when empty or just compacted). */
  def maxBatchSeq: Long = this.synchronized(seq)

  /** B6 — journal the unseen subset of `candidates` `(filename, create_date)`
    * as DISCOVERED (`SaveNewFilesToDbFlow.java:216-248`). Returns the
    * inserted count.
    */
  def appendDiscovered(candidates: Seq[(String, Date)], now: Timestamp): Long = this.synchronized {
    val fresh = candidates.iterator.map { case (f, d) => Event(f, d, FileStatus.Discovered, now, 0L) }
      .filterNot(e => files.contains(e.filename)).toSeq.distinctBy(_.filename)
    append(fresh, FileStatus.Discovered, now)
  }

  /** A9 — transition the named files to `to`. Illegal transitions (per
    * [[FileStatus.legal]]) are skipped, mirroring the reference's UPDATEs
    * which are already filtered to the eligible set by the caller.
    */
  def transition(filenames: Seq[String], to: FileStatus, now: Timestamp): Long = this.synchronized {
    append(filenames.distinct.flatMap(files.get).filter(movable(_, to)), to, now)
  }

  /** A9 with an arbitrary predicate over each file's current event. */
  def transitionWhere(cond: Event => Boolean, to: FileStatus, now: Timestamp): Long = this.synchronized {
    append(files.values.filter(e => movable(e, to) && cond(e)).toSeq, to, now)
  }

  /** Claim step (`UploadTickerFilesStatusAndDataFlow.java:83-94`): flip
    * READY_FOR_PROCESSING → IN_PROGRESS (the flip prevents double-processing
    * across cycles) for the `limit` OLDEST ready files by (create_date,
    * filename), and return them. Draining more than one batch is a caller loop.
    */
  def claimReady(now: Timestamp,
      limit: Int = TickerFileJournal.DefaultClaimLimit): Seq[(String, Date)] = this.synchronized {
    require(limit > 0, s"claimReady limit must be positive, got $limit")
    val ready = files.values.filter(_.status == FileStatus.ReadyForProcessing).toSeq
      .sortBy(e => (e.createDate.getTime, e.filename)).take(limit)
    append(ready, FileStatus.InProgress, now)
    ready.map(e => (e.filename, e.createDate))
  }

  // ---- Plane-A read surface (SURVEY §2.1) ----

  /** A1 — filenames already journaled among `names`. */
  def knownAmong(names: Seq[String]): Seq[String] = names.distinct.filter(files.contains)

  /** A2 — all current rows for one date. */
  def onDate(d: Date): DataFrame =
    frame(files.values.filter(_.createDate.toLocalDate == d.toLocalDate))

  /** A3 — point status lookup. */
  def statusOf(filename: String): Option[FileStatus] = files.get(filename).map(_.status)

  /** A4 — current rows whose status ∈ set. */
  def byStatus(statuses: FileStatus*): DataFrame =
    frame(files.values.filter(e => statuses.contains(e.status)))

  /** A4 names — filenames currently in `status`. */
  def filesWith(status: FileStatus): Seq[String] =
    files.values.filter(_.status == status).map(_.filename).toSeq

  /** A4 counts — current file count per status (absent = 0). */
  def statusCounts: Map[FileStatus, Long] = files.values.groupMapReduce(_.status)(_ => 1L)(_ + _)

  /** A5 — latest create_date ever journaled (catch-up start point). */
  def maxCreateDate: Option[Date] = files.values.map(_.createDate).maxByOption(_.getTime)

  /** A6 — MIN or MAX create_date over one status. */
  def minMaxDateForStatus(fn: String, status: FileStatus): Option[Date] = {
    require(fn == "MIN" || fn == "MAX", s"fn must be MIN or MAX, got $fn")
    val dates = files.values.filter(_.status == status).map(_.createDate)
    if (fn == "MIN") dates.minByOption(_.getTime) else dates.maxByOption(_.getTime)
  }

  /** A11 — current file count. */
  def countFiles(): Long = files.size.toLong

  /** A10 — truncate: publishes an empty snapshot. */
  def truncate(): Unit = this.synchronized { publishSnapshot(Nil) }

  /** Folds the log into a snapshot of the current view (batch 0), so replay
    * and [[events]] stay bounded as transitions accumulate.
    */
  def compact(now: Timestamp): Unit = this.synchronized {
    publishSnapshot(files.values.map(_.copy(batchSeq = 0L)).toSeq)
  }

  /** Publishes generation gen+1 by one rename, then deletes every other
    * file. A crash before the rename leaves the old generation live; after
    * it, the leftovers are ignored on replay and deleted by the next call.
    */
  private def publishSnapshot(snapshot: Seq[Event]): Unit = {
    publish(s"${gen + 1}.snapshot", snapshot)
    gen += 1
    seq = 0L
    files = snapshot.map(e => e.filename -> e).toMap
    fs.listStatus(root).filter(_.getPath.getName != s"$gen.snapshot")
      .foreach(s => fs.delete(s.getPath, true))
  }
}

object TickerFileJournal {
  /** Default [[TickerFileJournal.claimReady]] batch: the reference's
    * per-cycle scale (a day of per-ticker files is O(100s)) with headroom.
    */
  val DefaultClaimLimit: Int = 10000

  /** One journal event — a file's status as of `(updatedAt, batchSeq)`. */
  final case class Event(filename: String, createDate: Date, status: FileStatus,
      updatedAt: Timestamp, batchSeq: Long)

  private val Format = "graft-journal-v1"
  private val SnapshotFile = """(\d+)\.snapshot""".r
  private val BatchFile = """(\d+)-(\d+)\.batch""".r

  private def timestamp(millis: Long, nanos: Int): Timestamp = {
    val t = new Timestamp(millis); t.setNanos(nanos); t
  }

  /** Folds `events` into `m`, latest `(updated_at, batch_seq)` per file. */
  private def latestWins(m: Map[String, Event], events: Iterator[Event]): Map[String, Event] =
    events.foldLeft(m) { (acc, e) =>
      val keep = acc.get(e.filename).exists { p =>
        val c = p.updatedAt.compareTo(e.updatedAt)
        c > 0 || (c == 0 && p.batchSeq > e.batchSeq)
      }
      if (keep) acc else acc.updated(e.filename, e)
    }
}
