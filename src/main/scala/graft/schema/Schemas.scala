package graft.schema

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** File lifecycle status ADT — the 6-state machine of the reference
  * (`/root/reference/MainService/src/main/java/com/crypto/service/data/TickerFile.java:13-19`)
  * with the legal transition set drawn from
  * `ProceedFilesStatusFlow.java:81-90`, `TickersDataLoader.java:160-169`,
  * `CompressionHandler.java:92-100`,
  * `UploadTickerFilesStatusAndDataFlow.java:184-195`.
  */
sealed abstract class FileStatus(val name: String)
object FileStatus {
  case object Discovered extends FileStatus("DISCOVERED")
  case object Downloading extends FileStatus("DOWNLOADING")
  case object ReadyForProcessing extends FileStatus("READY_FOR_PROCESSING")
  case object InProgress extends FileStatus("IN_PROGRESS")
  case object Finished extends FileStatus("FINISHED")
  case object Error extends FileStatus("ERROR")

  val all: Seq[FileStatus] =
    Seq(Discovered, Downloading, ReadyForProcessing, InProgress, Finished, Error)
  def fromName(n: String): FileStatus =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown status: $n"))

  /** Legal transitions. Self-transitions are always legal (idempotent
    * re-application of a batch must be a no-op — SURVEY §7.4 hard part 1).
    * ERROR → READY_FOR_PROCESSING models the reference's explicit
    * re-ingest-after-ERROR contract (at-least-once, never silently dropped).
    */
  val legal: Map[FileStatus, Set[FileStatus]] = Map(
    Discovered -> Set(Downloading, ReadyForProcessing),
    Downloading -> Set(ReadyForProcessing),
    ReadyForProcessing -> Set(InProgress),
    InProgress -> Set(Finished, Error),
    Error -> Set(ReadyForProcessing),
    Finished -> Set.empty,
  )
  def canTransition(from: FileStatus, to: FileStatus): Boolean =
    from == to || legal(from).contains(to)
}

/** One shipped log record (`/root/reference/MainService/src/main/resources/LogMsgLayout.json:1-30`). */
case class LogRecord(
    timestamp: Timestamp, severity: String, thread: String, message: String,
    mdc_fields: Map[String, String], exception_class: Option[String],
    exception_message: Option[String])

object Schemas {
  /** Explicit CSV schema (the reference validates arity only —
    * `CompressionHandler.java:43-46`; we type every field).
    */
  val ticker: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("sequence", LongType, nullable = false),
    StructField("price", DoubleType, nullable = true),
    StructField("size", DoubleType, nullable = true),
    StructField("bestAsk", DoubleType, nullable = true),
    StructField("bestAskSize", DoubleType, nullable = true),
    StructField("bestBid", DoubleType, nullable = true),
    StructField("bestBidSize", DoubleType, nullable = true),
    StructField("transactionTime", TimestampType, nullable = false),
  ))

  /** ticker schema + the PERMISSIVE-mode quarantine column (B12). */
  val tickerWithCorrupt: StructType =
    ticker.add(StructField("_corrupt_record", StringType, nullable = true))

  val tickerFile: StructType = StructType(Seq(
    StructField("filename", StringType, nullable = false),
    StructField("create_date", DateType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
  ))

  val logRecord: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("severity", StringType),
    StructField("thread", StringType),
    StructField("message", StringType),
    StructField("mdc_fields", MapType(StringType, StringType)),
    StructField("exception_class", StringType),
    StructField("exception_message", StringType),
  ))
}
