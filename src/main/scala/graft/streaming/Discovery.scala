package graft.streaming

import java.sql.{Date, Timestamp}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.journal.TickerFileJournal

/** Flow 1 (`SaveNewFilesToDbFlow.java`) re-stated on Spark's native file
  * discovery. The reference hand-builds: a catch-up directory walk (B1), a
  * `WatchService` watcher with midnight re-registration (B2), an 8192-file /
  * 15 s buffer (B3), and an anti-join dedup vs the journal (B6). Spark's
  * streaming file source does discovery, catch-up, ordering and seen-file
  * tracking natively; the date-dir glob spans days so midnight rollover
  * vanishes; `maxFilesPerTrigger` + `Trigger.ProcessingTime` are the buffer.
  *
  * 100 TB design: discovery moves *metadata only* — the binaryFile source's
  * content column is pruned out before it is ever read, so a trigger over a
  * million files ships paths, not bytes. The journal dedups each batch's
  * candidate names against its driver-side map.
  */
object Discovery {

  /** Filename/date derivation from `<root>/<yyyy-MM-dd>/<file>` paths. */
  def fileMeta(pathsDf: DataFrame): DataFrame =
    pathsDf
      .withColumn("filename", element_at(split(col("path"), "/"), -1))
      .withColumn("create_date", to_date(element_at(split(col("path"), "/"), -2)))
      .filter(col("create_date").isNotNull) // non-date dirs are not ours
      .select("filename", "create_date")

  /** B1 — batch catch-up scan: list every date dir in
    * [journal's max create_date, today] (or everything on first start) and
    * journal the unseen files as DISCOVERED. Returns inserted count.
    */
  def catchUp(spark: SparkSession, journal: TickerFileJournal, dataRoot: String,
      today: LocalDate, now: Timestamp): Long = {
    val from = journal.maxCreateDate.map(_.toLocalDate)
    // Hadoop FileSystem walk (not java.io.File): the arrival store is a
    // shared filesystem/object prefix at scale, and the date-dir range
    // filter keeps the listing one listStatus per unseen day.
    val (fs, rootPath) = graft.ingest.HadoopFs.forPath(spark, dataRoot)
    val files = (if (fs.exists(rootPath)) fs.listStatus(rootPath)
        else Array.empty[org.apache.hadoop.fs.FileStatus]).toSeq
      .filter(_.isDirectory)
      .flatMap { d =>
        scala.util.Try(LocalDate.parse(d.getPath.getName)).toOption
          .filter(dd => from.forall(f => !dd.isBefore(f)) && !dd.isAfter(today)).toSeq
          .flatMap(dd => fs.listStatus(d.getPath).filter(_.isFile)
            .map(f => (f.getPath.getName, Date.valueOf(dd))))
      }
    if (files.isEmpty) 0L else journal.appendDiscovered(files, now)
  }

  /** B2+B3+B6 — the streaming discovery query. Each micro-batch appends
    * the files the journal has not seen as DISCOVERED. `now` is supplied
    * per batch for testability (wall clock in production).
    */
  def stream(spark: SparkSession, journal: TickerFileJournal, dataRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8192,
      trigger: Trigger = Trigger.ProcessingTime("15 seconds"),
      nowFn: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
      : StreamingQuery = {
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val paths = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema) // file streams require an explicit schema
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(s"$dataRoot/*/")
      .select("path") // prunes the content column: discovery ships names only
    paths.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        journal.appendDiscovered(
          fileMeta(batch).collect().map(r => (r.getString(0), r.getDate(1))).toSeq, nowFn())
        ()
      }
      .start()
  }
}
