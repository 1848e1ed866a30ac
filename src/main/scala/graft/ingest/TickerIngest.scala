package graft.ingest

import org.apache.spark.sql.{DataFrame, Encoder, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** Per-file ingest outcome: loaded row count + quarantined (malformed) count.
  * This is the Spark-native replacement for the reference's per-file
  * FINISHED/ERROR attribution inside its hand-built upload pipeline
  * (`/root/reference/MainService/src/main/java/com/crypto/service/data/TickersDataLoader.java:60-171`).
  */
case class FileOutcome(filename: String, rows: Long, corrupt_rows: Long)

case class IngestReport(outcomes: Seq[FileOutcome], totalRows: Long, totalCorrupt: Long)

/** The bulk-load hot path (SURVEY §3.3), Spark-first: the reference's 32-way
  * chunking + piped GZIP + HTTP streaming (B11/B13) collapses into one
  * declarative read→validate→write plan — input-split parallelism replaces
  * the thread pools, whole-stage codegen replaces the pipe, the Parquet
  * writer replaces the HTTP stream, task re-attempts replace the retry loop.
  *
  * 100 TB design: files are read with an explicit schema (no inference scan),
  * validation is a codegen'd filter ahead of the exchange, output is
  * partitioned by file_date so every downstream date-ranged query
  * partition-prunes. maxPartitionBytes governs split sizing; no collect of
  * data rows ever happens (per-file counts are a metadata-sized aggregate).
  */
object TickerIngest {

  /** Read ticker CSVs (PERMISSIVE + corrupt-record quarantine — B12,
    * `CompressionHandler.java:43-46` validates arity only; we type-check
    * every field) and derive `filename` / `ticker` / `file_date` from the
    * path (`README.md:7-8` convention `AVA-USDT_PST_2024-03-14`).
    */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val raw = spark.read
      .schema(Schemas.tickerWithCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(paths: _*)
    raw
      .withColumn("filename", element_at(split(input_file_name(), "/"), -1))
      .withColumn("ticker_from_name", regexp_extract(col("filename"), "^([^_]+)_", 1))
      .withColumn("file_date",
        to_date(regexp_extract(col("filename"), "(\\d{4}-\\d{2}-\\d{2})", 1)))
  }

  /** Valid rows only (quarantine dropped). */
  def validRows(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** Quarantined rows (kept, not silently dropped — the reference logs them;
    * we preserve them for reprocessing), with every column. Keeping the
    * data columns is what makes the quarantine exact: the CSV parser
    * type-checks only the columns a plan requires, so a plan that needs
    * only `_corrupt_record` would see arity errors and miss type errors.
    */
  def corruptRows(df: DataFrame): DataFrame = df.filter(col("_corrupt_record").isNotNull)

  /** A fully-written but uncommitted ingest: every fallible step (read,
    * validate, both writes, the outcome counts) has already happened into
    * `_staging/<uuid>` directories (underscore-prefixed, so readers never
    * see them); [[commit]] renames the data files into place. Retrying
    * [[stage]] after a failure is safe — nothing public was touched and an
    * abandoned staging dir is invisible garbage.
    */
  case class StagedIngest(report: IngestReport,
      stagingWh: String, warehouseDir: String,
      stagingQr: Option[String], quarantineDir: Option[String])

  /** Per-file (parsed, valid) row counts, the observed metric of the staged
    * write (B14: the write is the barrier, the filename map the attribution).
    */
  private type Counts = Map[String, (Long, Long)]
  private object FileCounts extends Aggregator[(String, Boolean), Counts, Counts] {
    def zero: Counts = Map.empty
    def reduce(b: Counts, in: (String, Boolean)): Counts = add(b, in._1, (1L, if (in._2) 1L else 0L))
    def merge(a: Counts, b: Counts): Counts = b.foldLeft(a) { case (acc, (f, c)) => add(acc, f, c) }
    def finish(r: Counts): Counts = r
    private def add(m: Counts, f: String, c: (Long, Long)): Counts = {
      val (n, ok) = m.getOrElse(f, (0L, 0L))
      m.updated(f, (n + c._1, ok + c._2))
    }
    def bufferEncoder: Encoder[Counts] = ExpressionEncoder[Counts]()
    def outputEncoder: Encoder[Counts] = ExpressionEncoder[Counts]()
  }
  private val fileCounts = udaf(FileCounts)

  /** Write tasks for a batch of `bytes` input bytes: one per `T` bytes, with
    * `T = min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism))`
    * — Spark's own split-size rule, so a small batch is one task and one
    * part file per date, a mid-sized one spreads over the cores, and a huge
    * one never gives a task more than a split.
    */
  def writeTasks(bytes: Long, maxPartitionBytes: Long, openCostInBytes: Long,
      parallelism: Int): Int = {
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    val t = math.min(maxPartitionBytes,
      math.max(openCostInBytes, ceilDiv(bytes, math.max(parallelism, 1).toLong)))
    math.max(1L, ceilDiv(bytes, math.max(t, 1L))).toInt
  }

  /** The fallible phase of the load — safe to retry. One Spark job parses
    * the batch once, writes its valid rows (partitioned by file_date) into a
    * fresh staging dir in [[writeTasks]] tasks, and observes each file's
    * parsed and valid row counts in that write's result stage, where Spark
    * applies each partition's metrics once even under task retry. The write
    * needs every column, so the parser type-checks every field and the
    * counts are exact for arity, type and timestamp errors. Only a batch
    * with corrupt rows runs a second job, the quarantine write. A failed
    * write throws before its observation is read.
    */
  def stage(spark: SparkSession, paths: Seq[String], warehouseDir: String,
      quarantineDir: Option[String] = None): StagedIngest = {
    if (paths.isEmpty)
      return StagedIngest(IngestReport(Nil, 0L, 0L), "", warehouseDir, None, quarantineDir)
    val df = read(spark, paths)
    val token = java.util.UUID.randomUUID().toString
    val stagingWh = s"$warehouseDir/_staging/$token"
    val stagingQr = quarantineDir.map(q => s"$q/_staging/$token")
    val (fs, _) = HadoopFs.forPath(spark, paths.head)
    val bytes = paths.map(p => fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
    val conf = spark.sessionState.conf
    val tasks = writeTasks(bytes, conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes,
      spark.sparkContext.defaultParallelism)
    val counts = org.apache.spark.sql.Observation(s"ingest_counts_$token")
    validRows(zorderCluster(spark, df.coalesce(tasks))
      .observe(counts, fileCounts(col("filename"), col("_corrupt_record").isNull).as("files")))
      .write.mode(SaveMode.Append)
      .partitionBy("file_date")
      .parquet(stagingWh)
    val outcomes = counts.get("files").asInstanceOf[scala.collection.Map[String, Row]]
      .map { case (f, c) => FileOutcome(f, c.getLong(1), c.getLong(0) - c.getLong(1)) }
      .toSeq.sortBy(_.filename)
    val report = IngestReport(outcomes, outcomes.map(_.rows).sum, outcomes.map(_.corrupt_rows).sum)
    if (report.totalCorrupt > 0)
      stagingQr.foreach(q => corruptRows(df).write.mode(SaveMode.Append).parquet(q))
    StagedIngest(report, stagingWh, warehouseDir, stagingQr, quarantineDir)
  }

  /** Optional z-order clustering of the staged warehouse write (off by
    * default; enable with `spark.graft.ingest.zorder=true`, output file
    * count per batch via `spark.graft.ingest.zorder.partitions`, defaulting
    * to `spark.sql.shuffle.partitions`). Rows are range-partitioned and
    * sorted by the Morton key of two dimensions post-ingest queries actually
    * filter on:
    *
    *   x — an ORDER-PRESERVING 16-bit projection of `ticker` (its first two
    *       characters), the string trick real z-order writers use: because
    *       the projection preserves lexical order, each output file holds a
    *       contiguous ticker band and the parquet footer min/max of the raw
    *       `ticker` STRING column stays narrow (a hash would scatter it);
    *   y — minute-of-day of `transactionTime`, monotone with the timestamp,
    *       so time stats stay narrow too.
    *
    * Each file then covers a small hyper-rectangle of (ticker, time) and
    * footer stats skip it on EITHER predicate dimension — see
    * [[graft.operators.LayoutOps]] for the key itself and ZOrderIngestSpec
    * for the measured file-skip proof. Cost: one extra range shuffle in the
    * staged write (the price of clustering); the date partitioning above it
    * is unchanged.
    */
  private def zorderEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.ingest.zorder", "false").toBoolean

  /** Incremental per-partition ANALYZE at commit ([[PartitionStats]]);
    * off by default like the z-order path.
    */
  private def statsEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.ingest.stats", "false").toBoolean

  /** The warehouse's clustering dimensions: the order-preserving 2-char
    * ticker prefix (x) and minute-of-day (y) — see the class doc of the
    * z-order path. Shared by the ingest write and [[compactPartition]] so
    * maintenance preserves the layout.
    */
  private def clusterDims: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    // clamp each char to 0..255: ascii() returns the full CODEPOINT, and a
    // non-ASCII leading char would push zx past the curves' 2^16 input
    // bound, silently scrambling the key (the clamp stays
    // order-preserving over the ASCII range tickers actually use)
    def c(pos: Int) =
      least(coalesce(ascii(substring(col("ticker"), pos, 1)), lit(0)), lit(255))
    val zx = (c(1) * 256 + c(2)).cast("long")
    val zy = (hour(col("transactionTime")) * 60 + minute(col("transactionTime"))).cast("long")
    (zx, zy)
  }

  /** Attach the configured space-filling-curve key as `_zkey`:
    * `spark.graft.ingest.cluster.curve` = `zorder` (default; closed-form
    * Morton spread) or `hilbert` (adjacency-preserving — fewer extra tiles
    * touched by range scans that straddle file boundaries; ~3 ops/bit at
    * write time, identical aligned-bucket pruning). Both curves consume
    * the same [[clusterDims]], so switching curve never changes WHAT is
    * clustered, only the visit order.
    */
  private def withClusterKey(spark: SparkSession, df: DataFrame): DataFrame = {
    val (zx, zy) = clusterDims
    spark.conf.get("spark.graft.ingest.cluster.curve", "zorder") match {
      case "hilbert" =>
        graft.operators.LayoutOps.withHilbertKey(
          df.withColumn("_cx", zx).withColumn("_cy", zy),
          "_cx", "_cy", "_zkey", bits = 16)
          .drop("_cx", "_cy")
      case _ =>
        df.withColumn("_zkey", graft.operators.LayoutOps.zkey(zx, zy))
    }
  }

  private def zorderCluster(spark: SparkSession, valid: DataFrame): DataFrame = {
    if (!zorderEnabled(spark)) valid
    else {
      val n = spark.conf.get("spark.graft.ingest.zorder.partitions",
        spark.conf.get("spark.sql.shuffle.partitions", "32")).toInt
      withClusterKey(spark, valid)
        .repartitionByRange(n, col("file_date"), col("_zkey"))
        .sortWithinPartitions(col("file_date"), col("_zkey"))
        .drop("_zkey")
    }
  }

  /** The commit phase: rename the staged data files into the public
    * directories. Renames only — run it OUTSIDE any retry loop (re-running
    * [[stage]] after a partially-applied commit would duplicate rows; a
    * commit failure quarantines the claimed files instead).
    */
  /** Serializes everything that touches live partition dirs: [[commit]]
    * (upload flow) vs [[compactPartition]]/[[recoverCompaction]] (cleanup
    * flow) run on different scheduler threads in PipelineApp. Without it a
    * commit landing a file in a partition between the compaction's
    * snapshot and its swap would be silently thrown away with the `.__old`
    * trash. Commits hold it only for renames (milliseconds); a compaction
    * holds it across its rewrite — that partition's ingest pauses for the
    * maintenance pass, exactly like a table-format compaction lock.
    */
  private val maintenanceLock = new Object

  def commit(spark: SparkSession, staged: StagedIngest): Unit = maintenanceLock.synchronized {
    // touched partitions must be listed BEFORE the rename empties staging
    val statsDates =
      if (statsEnabled(spark) && staged.stagingWh.nonEmpty)
        PartitionStats.partitionDates(spark, staged.stagingWh)
      else Nil
    if (staged.stagingWh.nonEmpty) moveTree(spark, staged.stagingWh, staged.warehouseDir)
    for (s <- staged.stagingQr; q <- staged.quarantineDir) moveTree(spark, s, q)
    // incremental ANALYZE: recompute the touched partitions' stats rows
    // from the now-committed data (still under the maintenance lock, so no
    // concurrent commit/compaction can interleave). A crash before this
    // line leaves stats one batch stale — healed on the partition's next
    // touch; see PartitionStats' consistency contract.
    if (statsDates.nonEmpty)
      PartitionStats.refresh(spark, staged.warehouseDir, statsDates)
    // registered materialized rollups over this warehouse re-freshen at the
    // same point (append-only commit ⇒ delta-cost refresh) so the rewrite
    // keeps serving across ingest cycles instead of falling back to scans
    // until someone remembers to refresh. Still under the maintenance lock.
    if (staged.stagingWh.nonEmpty &&
        graft.plans.MaterializedRollup.registered(spark, staged.warehouseDir))
      graft.plans.MaterializedRollup.refresh(spark, staged.warehouseDir)
    // GC abandoned attempts: under the single-writer contract (one
    // processReady cycle stages at a time — same assumption the journal
    // makes), every _staging entry still present after a successful commit
    // is a failed earlier attempt's leak; without this sweep each transient
    // failure would leave a full staged copy of its batch on disk forever
    if (staged.stagingWh.nonEmpty) sweepStaging(spark, staged.warehouseDir)
    staged.quarantineDir.foreach(q => sweepStaging(spark, q))
  }

  private def sweepStaging(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir, "_staging")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) { fs.delete(root, true); () }
  }

  /** Renames every data file under `src` to the same relative path under
    * `dst`, then drops the staging skeleton (_SUCCESS etc.). Walks with
    * `listStatus`: `listFiles` builds a `LocatedFileStatus` per file, and
    * Hadoop's local FileSystem forks `ls -ld` for each one when libhadoop is
    * absent.
    */
  private def moveTree(spark: SparkSession, src: String, dst: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(src).getFileSystem(spark.sessionState.newHadoopConf())
    val srcPath = fs.makeQualified(new Path(src))
    val dstPath = fs.makeQualified(new Path(dst))
    fs.mkdirs(dstPath)
    if (!fs.exists(srcPath)) return
    def walk(from: Path, to: Path): Unit = fs.listStatus(from).foreach { f =>
      val name = f.getPath.getName
      if (f.isDirectory) { fs.mkdirs(new Path(to, name)); walk(f.getPath, new Path(to, name)) }
      else if (!name.startsWith("_") && !name.startsWith(".") &&
          !fs.rename(f.getPath, new Path(to, name)))
        throw new java.io.IOException(s"rename failed: ${f.getPath} -> ${new Path(to, name)}")
    }
    walk(srcPath, dstPath)
    fs.delete(srcPath, true)
    ()
  }

  /** Stage + commit in one call — the single-attempt form (specs, benches,
    * callers without a retry loop).
    */
  def ingest(spark: SparkSession, paths: Seq[String], warehouseDir: String,
      quarantineDir: Option[String] = None): IngestReport = {
    val staged = stage(spark, paths, warehouseDir, quarantineDir)
    commit(spark, staged)
    staged.report
  }

  /** The warehouse root's FileSystem + fully-qualified root path. All
    * maintenance below goes through this abstraction (like [[moveTree]]),
    * never `java.io.File`, so the same protocol runs unchanged on HDFS.
    * Object stores without atomic directory rename need the caveat in
    * SCALE.md ("Warehouse maintenance and the rename contract").
    */
  private def fsFor(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) =
    HadoopFs.forPath(spark, dir)

  private def partFileCount(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Int =
    if (!fs.exists(d)) 0
    else fs.listStatus(d).count(s => s.isFile && s.getPath.getName.startsWith("part-"))

  /** Compact one date partition of the warehouse — the small-files
    * maintenance pass: every [[commit]] appends one file set per batch, so
    * a partition ingested in N cycles holds N× the files a scan wants
    * (task-per-file scheduling, footer overhead). Rewrites the partition
    * into `ceil(rows / targetRowsPerFile)` files.
    *
    * Crash-safe by DIRECTORY swap, not file shuffling: the compacted copy
    * is built complete in `<partition>.__new`, then the swap is two
    * directory renames (live → `.__old`, `.__new` → live) and a trash
    * delete. A crash between the renames leaves the partition absent but
    * its data intact in `.__old`; [[recoverCompaction]] — run at startup,
    * before anything reads — restores it. Readers never see a partial mix
    * of old and new files at any point. The swap relies on the Hadoop
    * `FileSystem.rename` contract (atomic on HDFS and POSIX filesystems;
    * see SCALE.md for the object-store caveat).
    *
    * Returns (filesBefore, filesAfter).
    */
  def compactPartition(spark: SparkSession, warehouseDir: String,
      date: java.sql.Date,
      targetRowsPerFile: Long = 4000000L): (Int, Int) = maintenanceLock.synchronized {
    import org.apache.hadoop.fs.Path
    val (fs, whPath) = fsFor(spark, warehouseDir)
    val live = new Path(whPath, s"file_date=$date")
    val before = partFileCount(fs, live)
    if (before <= 1) return (before, before)
    val df = spark.read.parquet(live.toString)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // a z-clustered warehouse must STAY z-clustered through maintenance —
    // a plain repartition would scramble the layout the ingest paid a
    // range shuffle for, silently killing file skipping on the next scan
    val rewritten =
      if (zorderEnabled(spark))
        withClusterKey(spark, df)
          .repartitionByRange(nFiles, col("_zkey"))
          .sortWithinPartitions("_zkey")
          .drop("_zkey")
      else df.repartition(nFiles)
    DirSwap.replace(fs, live) { newDir =>
      rewritten.write.mode(SaveMode.Overwrite).parquet(newDir.toString)
    } { newDir =>
      require(spark.read.parquet(newDir.toString).count() == rows,
        s"compaction verify failed for $live")
    }
    // the rewrite changed the partition's file listing, which is exactly
    // what PartitionStats' freshness fingerprint watches — re-stamp the
    // row (values unchanged) so summaryExact keeps its accelerated path
    if (statsEnabled(spark))
      PartitionStats.refresh(spark, warehouseDir, Seq(date.toString))
    (before, partFileCount(fs, live))
  }

  /** Startup repair for [[compactPartition]]'s crash window — the shared
    * [[DirSwap.recover]] sweep over the warehouse root (restore orphaned
    * `.__old` partitions, drop finished trash and incomplete `.__new`
    * copies). Returns the number of partitions restored.
    */
  def recoverCompaction(spark: SparkSession, warehouseDir: String): Int =
    maintenanceLock.synchronized {
      val (fs, root) = fsFor(spark, warehouseDir)
      DirSwap.recover(fs, root)
    }

  /** Date partitions currently fragmented past `threshold` part files —
    * the cleanup flow's compaction work list. Goes through the Hadoop
    * FileSystem like every other maintenance path; swap trash
    * (`.__old`/`.__new`) and non-date dirs (`__HIVE_DEFAULT_PARTITION__`
    * from a null file_date) are excluded so a maintenance pass can never
    * wedge on them.
    */
  def fragmentedPartitions(spark: SparkSession, warehouseDir: String,
      threshold: Int): Seq[java.sql.Date] = {
    val (fs, root) = fsFor(spark, warehouseDir)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("file_date=") &&
        !s.getPath.getName.contains(".__"))
      .filter(s => partFileCount(fs, s.getPath) > threshold)
      .flatMap(s => scala.util.Try(
        java.sql.Date.valueOf(s.getPath.getName.stripPrefix("file_date="))).toOption)
  }

  /** The loaded warehouse as a DataFrame (partition-pruned on file_date). */
  def warehouse(spark: SparkSession, warehouseDir: String): DataFrame =
    spark.read.schema(
      Schemas.ticker
        .add("filename", org.apache.spark.sql.types.StringType)
        .add("ticker_from_name", org.apache.spark.sql.types.StringType)
        .add("file_date", org.apache.spark.sql.types.DateType))
      .parquet(warehouseDir)
}
