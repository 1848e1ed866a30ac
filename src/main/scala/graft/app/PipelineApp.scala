package graft.app

import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.ingest.TickerIngest
import graft.journal.TickerFileJournal
import graft.pipeline.{Lifecycle, Retry, RetryPolicy}
import graft.schema.FileStatus
import graft.streaming.{Discovery, StreamingDedup, StreamingDrift, StreamingQuantiles, StreamingTopK, StreamingVectorIndex}

/** The wired application (SURVEY §7.1 step 8) — replaces the reference's
  * `MainApplication.java:54-91` four-flow bootstrap with one SparkSession
  * running the discovery stream plus the scheduled lifecycle jobs.
  *
  * Usage: `PipelineApp <dataRoot> <journalDir> <warehouseDir> [--demo]
  * [--config <yaml>]`. `--demo` seeds a temp fixture tree, runs one cycle of
  * every flow synchronously, prints a report, and exits — the smoke-runnable
  * form. Without it, the discovery stream and the lifecycle cycles run
  * continuously on the cadences from the config (defaults = the reference's
  * shipped values: 15 s trigger / 20 s / 30 s / 3 h —
  * `application.origin.yaml:30-43`). `--config` points at a
  * reference-shaped YAML file ([[GraftConfig]]).
  */
object PipelineApp {
  def main(args: Array[String]): Unit = {
    val demo = args.contains("--demo")
    val cfg = args.indexOf("--config") match {
      case -1 => GraftConfig.default
      case i =>
        require(i + 1 < args.length, "--config needs a path argument")
        GraftConfig.load(args(i + 1))
    }
    val rest = args.zipWithIndex.collect {
      case (a, i) if a != "--demo" && a != "--config" &&
        !(i > 0 && args(i - 1) == "--config") => a
    }
    val (root, journalDir, warehouseDir) =
      if (rest.length >= 3) (rest(0), rest(1), rest(2))
      else {
        require(demo, "non-demo mode needs <dataRoot> <journalDir> <warehouseDir>")
        (tmp("root"), tmp("journal"), tmp("warehouse"))
      }

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-pipeline")
      // the reference's divideDataPartsQuantity (32-way fan-out) is, in
      // Spark terms, the shuffle/write parallelism; env overrides config
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", cfg.ingest.fanOutParts.toString))
      // CompressionHandlerConfig.compressionBufferSize: the engine's
      // compression buffer is the shuffle codec block size
      .config("spark.io.compression.lz4.blockSize",
        s"${math.max(cfg.ingest.compressionBufferSize, 4096)}b")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val journal = new TickerFileJournal(spark, journalDir)
    if (demo) runDemo(spark, journal, root, warehouseDir, cfg)
    else runContinuous(spark, journal, root, warehouseDir, cfg)
    spark.stop()
  }

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$p").toString

  /** Flow 5 — corpus admission: documents dropped as JSON lines
    * (`doc_id`, `text`) under `docsDir` stream through
    * [[graft.streaming.StreamingDedup]] — each micro-batch is
    * deduplicated against the persistent fingerprint store under the
    * warehouse and the admitted rows land in the corpus, exactly-once
    * (see StreamingDedup's replay contract). The reference boots every
    * flow it ships, not just ingest (`MainApplication.java:64-81`); this
    * is the engine's corpus-building flow, so demo and continuous mode
    * both run it. Public so the continuous-mode spec can drive
    * micro-batches through the EXACT wiring the app uses.
    */
  def corpusAdmission(spark: SparkSession, docsDir: String,
      warehouseDir: String, maxFilesPerTrigger: Int,
      trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery = {
    // the file source lists eagerly: the drop dir must exist before start.
    // Hadoop FS, not java.io.File — the root may be hdfs:// (SCALE.md §7b)
    val p = new org.apache.hadoop.fs.Path(docsDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(docsDir)
    // "_corpus", underscore-prefixed: the ticker warehouse shares this root,
    // and Spark's partition discovery over it must not see a batch_id=N tree
    // next to file_date=D dirs (a visible "corpus/" dir makes every
    // TickerIngest.warehouse read fail with conflicting partition columns)
    StreamingDedup.start(docs, s"$warehouseDir/_fp_store",
      s"$warehouseDir/_corpus", s"$warehouseDir/_corpus_ckpt", trigger)
  }

  /** Flow 6 — distribution drift: the same document drop-dir that feeds
    * admission also feeds [[graft.streaming.StreamingDrift]] (an
    * independent file-source stream with its own checkpoint — file sources
    * are multi-reader by design), scoring every incoming micro-batch's
    * token distribution against a reference histogram built ONCE from the
    * already-admitted corpus. Returns None on a cold start (empty corpus —
    * there is no baseline to drift from yet; the monitor arms on the next
    * boot once admission has landed something). Public so specs drive the
    * exact app wiring.
    */
  def driftMonitor(spark: SparkSession, docsDir: String, warehouseDir: String,
      maxFilesPerTrigger: Int,
      trigger: Trigger): Option[org.apache.spark.sql.streaming.StreamingQuery] = {
    val refDir = s"$warehouseDir/_drift_ref"
    val refTerms = new org.apache.hadoop.fs.Path(s"$refDir/terms")
    val fs = refTerms.getFileSystem(spark.sessionState.newHadoopConf())
    // BOTH reference tables must be committed (_SUCCESS): buildReference
    // writes terms then total, and a crash between them would otherwise
    // pass an exists(terms) check and brick every future batch on the
    // missing total table. No complete pair → rebuild (overwrite cleans).
    val refReady =
      fs.exists(new org.apache.hadoop.fs.Path(s"$refDir/terms/_SUCCESS")) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$refDir/total/_SUCCESS"))
    if (!refReady) {
      val corpusDir = s"$warehouseDir/_corpus"
      val cPath = new org.apache.hadoop.fs.Path(corpusDir)
      if (!fs.exists(cPath)) return None
      // ROW-level emptiness, not directory entries: an empty first docs
      // drop leaves a zero-row batch dir behind (StreamingDedup writes
      // batch_id=N unconditionally), and freezing a reference over zero
      // docs would null every future PSI score
      val corpus = StreamingDedup.corpus(spark, corpusDir).select("doc_id", "text")
      if (corpus.isEmpty) return None
      StreamingDrift.buildReference(corpus, refDir)
    }
    // the drop dir's OWN FileSystem — it may not share the warehouse's
    // (file:// drop dir next to an hdfs:// warehouse), like corpusAdmission
    val p = new org.apache.hadoop.fs.Path(docsDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(docsDir)
    Some(StreamingDrift.start(docs, refDir, s"$warehouseDir/_drift_log",
      s"$warehouseDir/_drift_ckpt", trigger))
  }

  /** Flow 7 — vector indexing: embeddings dropped as JSON lines (`vec_id`,
    * `embedding`) under `vecsDir` stream through
    * [[graft.streaming.StreamingVectorIndex]] into the cid-partitioned
    * index under the warehouse. The first batch bootstraps the frozen
    * quantizer (deterministically, so its replay converges); every later
    * batch is a broadcast-assign + partitioned append. Public so specs
    * drive the exact app wiring.
    */
  def vectorIndexer(spark: SparkSession, vecsDir: String, warehouseDir: String,
      maxFilesPerTrigger: Int,
      trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery = {
    val p = new org.apache.hadoop.fs.Path(vecsDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val vecs = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(vecsDir)
    StreamingVectorIndex.start(vecs, s"$warehouseDir/_vec_centroids",
      s"$warehouseDir/_vec_index", s"$warehouseDir/_vec_ckpt", trigger)
  }

  /** Flow 8 — heavy-hitter tracking: the document drop-dir also feeds
    * [[graft.streaming.StreamingTopK]] (another independent file-source
    * reader), maintaining a store of per-batch Misra–Gries sketches whose
    * on-read merge answers "what is the corpus mostly made of" with a
    * certified undercount bound. Public so specs drive the exact wiring.
    */
  def heavyHitterTracker(spark: SparkSession, docsDir: String,
      warehouseDir: String, maxFilesPerTrigger: Int,
      trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery = {
    val p = new org.apache.hadoop.fs.Path(docsDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(docsDir)
    StreamingTopK.start(docs, s"$warehouseDir/_hh_store",
      s"$warehouseDir/_hh_ckpt", trigger = trigger)
  }

  /** App flow 9 — continuous document-length quantiles over the same docs
    * drop dir ([[graft.streaming.StreamingQuantiles]]): the curation
    * health metric ("p50/p99 doc length right now") published as certified
    * grid intervals, with the same replay-safe per-batch store + periodic
    * fold as the heavy-hitter flow.
    */
  def docLengthTracker(spark: SparkSession, docsDir: String,
      warehouseDir: String, maxFilesPerTrigger: Int,
      trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery = {
    val p = new org.apache.hadoop.fs.Path(docsDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(docsDir)
    StreamingQuantiles.start(
      docs.select(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("double").as("len")),
      "len", s"$warehouseDir/_len_store", s"$warehouseDir/_len_ckpt",
      trigger = trigger)
  }

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  /** One synchronous cycle of all four flows over a seeded fixture tree. */
  private def runDemo(spark: SparkSession, journal: TickerFileJournal,
      root: String, warehouseDir: String, cfg: GraftConfig): Unit = {
    val line = "AVA-USDT,1,0.61,15.2,0.62,100.0,0.60,80.5,2024-03-14T12:34:56.123"
    val today = LocalDate.now()
    def put(date: LocalDate, name: String, lines: Seq[String]): Unit = {
      new java.io.File(s"$root/$date").mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/$date/$name"), lines.mkString("\n").getBytes)
      ()
    }
    put(today.minusDays(3), s"AVA-USDT_PST_${today.minusDays(3)}", Seq(line, line, line))
    put(today.minusDays(2), s"BTC-USDT_PST_${today.minusDays(2)}", Seq(line, "MALFORMED,2"))
    put(today, s"ETH-USDT_PST_$today", Seq(line))

    // startup recovery (no-ops on a fresh fixture, but the demo exercises
    // the same entry points continuous mode runs)
    println(s"[demo] recovery: orphans=${Lifecycle.recoverOrphaned(journal, now())} " +
      s"restoredPartitions=${TickerIngest.recoverCompaction(spark, warehouseDir)}")

    // Flow 1 — one streaming discovery micro-batch
    val q = Discovery.stream(spark, journal, root, tmp("ckpt"),
      maxFilesPerTrigger = cfg.discovery.filesBufferSize,
      trigger = Trigger.ProcessingTime(0))
    q.processAllAvailable(); q.stop()
    println(s"[demo] discovered=${journal.countFiles()}")
    // Flow 2
    val (down, ready) = Lifecycle.advanceStatuses(journal, today, now())
    println(s"[demo] advance: toDownloading=$down toReady=$ready")
    // Flow 3
    val rep = Lifecycle.processReady(spark, journal, root, warehouseDir, now(),
      quarantineDir = Some(s"$warehouseDir/_quarantine"),
      retry = RetryPolicy(cfg.ingest.maxFlushAttempts, cfg.ingest.sleepOnRetryMs))
    println(s"[demo] process: claimed=${rep.claimed} finished=${rep.finished} " +
      s"rows=${rep.rows} corrupt=${rep.corruptRows}")
    println(s"[demo] warehouse rows=${TickerIngest.warehouse(spark, warehouseDir).count()}")
    // Flow 4 (guards will skip — finished dates are within the backup window)
    val cl = Lifecycle.cleanup(journal, root, today)
    println(s"[demo] cleanup: skipped=${cl.skipped} deleted=${cl.deletedFiles}")
    // Flow 5 — corpus admission: two micro-batches with an in-batch dup, a
    // whitespace-variant dup, and a cross-batch historical dup
    val docsDir = s"$root/docs"
    new java.io.File(docsDir).mkdirs()
    def putDocs(name: String, docs: Seq[(Long, String)]): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$docsDir/$name"),
        docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes)
      ()
    }
    putDocs("batch1.json", Seq(1L -> "alpha beta", 2L -> "gamma delta",
      3L -> "alpha  beta"))
    val dq = corpusAdmission(spark, docsDir, warehouseDir,
      maxFilesPerTrigger = 1, trigger = Trigger.ProcessingTime(0))
    dq.processAllAvailable()
    putDocs("batch2.json", Seq(4L -> "gamma delta", 5L -> "epsilon zeta"))
    dq.processAllAvailable()
    dq.stop()
    println(s"[demo] corpus: admitted=" +
      s"${StreamingDedup.corpus(spark, s"$warehouseDir/_corpus").count()} of 5 seen")
    // flow 5 must not have broken flow 3's read path (shared warehouse root)
    println(s"[demo] warehouse rows after corpus flow=" +
      s"${TickerIngest.warehouse(spark, warehouseDir).count()}")
    // Flow 6 — drift monitor: baseline = the corpus just admitted; a third
    // drop skewed to one token must register in the log's max PSI
    putDocs("batch3.json", Seq(6L -> "epsilon epsilon epsilon epsilon"))
    driftMonitor(spark, docsDir, warehouseDir,
        maxFilesPerTrigger = 3, trigger = Trigger.ProcessingTime(0))
      .foreach { dq2 =>
        dq2.processAllAvailable(); dq2.stop()
        val dl = graft.streaming.StreamingDrift
          .driftLog(spark, s"$warehouseDir/_drift_log")
        println(s"[demo] drift: batches=${dl.count()} maxPsi=" +
          dl.agg(org.apache.spark.sql.functions.max("psi")).first().getDouble(0))
      }
    // Flow 7 — vector indexing: two drops; the first bootstraps the
    // quantizer, the second appends; a query probes the grown index
    val vecsDir = s"$root/vecs"
    new java.io.File(vecsDir).mkdirs()
    def putVecs(name: String, vecs: Seq[(Long, Seq[Double])]): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$vecsDir/$name"),
        vecs.map { case (id, v) =>
          s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}""" }
          .mkString("\n").getBytes)
      ()
    }
    // Flow 8 — heavy hitters over everything dropped so far (3 batches)
    val hq = heavyHitterTracker(spark, docsDir, warehouseDir,
      maxFilesPerTrigger = 3, trigger = Trigger.ProcessingTime(0))
    hq.processAllAvailable(); hq.stop()
    val board = graft.streaming.StreamingTopK
      .mergedTopK(spark, s"$warehouseDir/_hh_store")
    val top = board.limit(1).collect().headOption
      .map(r => s"${r.getString(0)}=${r.getLong(1)}±${r.getLong(2)}")
      .getOrElse("-")
    println(s"[demo] heavy hitters: tracked=${board.count()} top=$top")
    // Flow 9 — doc-length quantiles over the same drops
    val lq = docLengthTracker(spark, docsDir, warehouseDir,
      maxFilesPerTrigger = 3, trigger = Trigger.ProcessingTime(0))
    lq.processAllAvailable(); lq.stop()
    val lens = StreamingQuantiles.quantiles(spark,
      s"$warehouseDir/_len_store", Seq(0.5, 0.99)).collect()
      .map(r => s"p${(r.getDouble(0) * 100).toInt}∈[${r.getLong(2) / 1000000}," +
        s"${r.getLong(3) / 1000000 + 1})")
      .mkString(" ")
    println(s"[demo] doc length quantiles: $lens")
    putVecs("v1.json", Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0),
      3L -> Seq(0.9, 0.1)))
    val vq = vectorIndexer(spark, vecsDir, warehouseDir,
      maxFilesPerTrigger = 1, trigger = Trigger.ProcessingTime(0))
    vq.processAllAvailable()
    putVecs("v2.json", Seq(4L -> Seq(0.1, 0.95)))
    vq.processAllAvailable()
    vq.stop()
    val idx = graft.streaming.StreamingVectorIndex
      .indexed(spark, s"$warehouseDir/_vec_index")
    println(s"[demo] vector index: indexed=${idx.count()} " +
      s"cells=${idx.select("cid").distinct().count()}")
    val counts = journal.statusCounts
    println(s"[demo] statuses: " + FileStatus.all.map(s =>
      s"${s.name}=${counts.getOrElse(s, 0L)}").mkString(" "))
  }

  /** Continuous mode — config-driven cadences (B5), defaults = reference's. */
  private def runContinuous(spark: SparkSession, journal: TickerFileJournal,
      root: String, warehouseDir: String, cfg: GraftConfig): Unit = {
    // optional external ClickHouse warehouse (DatabaseConfig section — the
    // reference's wire, carried over verbatim): each upload cycle publishes
    // the staged batch before finalize; empty host = parquet-only
    val externalSink: Option[graft.sinks.ExternalSink] =
      if (cfg.database.enabled)
        Some(graft.sinks.ClickHouseHttpSink.fromConfig(cfg.database, "tickers_data"))
      else None
    if (externalSink.nonEmpty)
      println(s"[app] external ClickHouse sink enabled: " +
        s"${cfg.database.host}:${cfg.database.port}/${cfg.database.database}")
    // crash recovery before anything claims: files a dead predecessor left
    // IN_PROGRESS go back to READY (their staged-but-uncommitted data was
    // never visible, so the re-ingest is exactly-once — see LifecycleSpec)
    val orphans = Lifecycle.recoverOrphaned(journal, now())
    if (orphans > 0) println(s"[recover] re-queued $orphans orphaned IN_PROGRESS files")
    val repaired = TickerIngest.recoverCompaction(spark, warehouseDir)
    if (repaired > 0) println(s"[recover] restored $repaired partitions from interrupted compactions")
    val fpRepaired = graft.operators.FingerprintStore.recover(spark, s"$warehouseDir/_fp_store")
    if (fpRepaired > 0) println(s"[recover] restored $fpRepaired fingerprint buckets")
    // the vector index shares the DirSwap crash windows (its compaction is
    // a stream-stopped maintenance tool — see compactIndex's contract —
    // but recovery always runs before the stream starts)
    val vecRepaired = StreamingVectorIndex.recover(spark, s"$warehouseDir/_vec_index")
    if (vecRepaired > 0) println(s"[recover] restored $vecRepaired vector-index cells")
    // re-register persisted materialized rollups (the registry is
    // in-process; without this a restart silently stops every rollup
    // rewrite from firing until someone rebuilds by hand)
    val rollups = graft.plans.MaterializedRollup
      .recoverAll(spark, s"$warehouseDir/_rollups")
    if (rollups > 0) println(s"[recover] re-registered $rollups materialized rollups")
    // observe-mode advisor: accumulates servable aggregate shapes; advice
    // is logged on the cleanup cadence below
    graft.plans.RollupAdvisor.install(spark)
    Discovery.catchUp(spark, journal, root, LocalDate.now(), now())
    val q = Discovery.stream(spark, journal, root, s"$warehouseDir/_discovery_ckpt",
      maxFilesPerTrigger = cfg.discovery.filesBufferSize,
      trigger = Trigger.ProcessingTime(s"${cfg.discovery.flushTimeoutSec} seconds"))
    // Flow 5 — corpus admission runs beside discovery on the same cadence
    val corpusQ = corpusAdmission(spark, s"$root/docs", warehouseDir,
      maxFilesPerTrigger = cfg.discovery.filesBufferSize,
      trigger = Trigger.ProcessingTime(s"${cfg.discovery.flushTimeoutSec} seconds"))
    // Flow 6 — drift monitor over the same drop dir (None on cold start:
    // the baseline is the admitted corpus, which doesn't exist yet)
    val driftQ = driftMonitor(spark, s"$root/docs", warehouseDir,
      maxFilesPerTrigger = cfg.discovery.filesBufferSize,
      trigger = Trigger.ProcessingTime(s"${cfg.discovery.flushTimeoutSec} seconds"))
    // Flow 7 — vector indexing from the embeddings drop dir (first batch
    // bootstraps the quantizer)
    val vecQ = vectorIndexer(spark, s"$root/vecs", warehouseDir,
      maxFilesPerTrigger = cfg.discovery.filesBufferSize,
      trigger = Trigger.ProcessingTime(s"${cfg.discovery.flushTimeoutSec} seconds"))
    // Flow 8 — heavy-hitter tracking over the same docs drop dir
    val hhQ = heavyHitterTracker(spark, s"$root/docs", warehouseDir,
      maxFilesPerTrigger = cfg.discovery.filesBufferSize,
      trigger = Trigger.ProcessingTime(s"${cfg.discovery.flushTimeoutSec} seconds"))
    // Flow 9 — doc-length quantile tracking over the same docs drop dir
    val lenQ = docLengthTracker(spark, s"$root/docs", warehouseDir,
      maxFilesPerTrigger = cfg.discovery.filesBufferSize,
      trigger = Trigger.ProcessingTime(s"${cfg.discovery.flushTimeoutSec} seconds"))
    // one thread per flow: with only 2 threads a stuck uploadData cycle
    // (retry sleeps can be seconds per attempt) plus proceedStatus would
    // starve cleanup arbitrarily long
    val flowCount = 3
    val sched = java.util.concurrent.Executors.newScheduledThreadPool(flowCount)
    // the outer catch is load-bearing: ScheduledExecutorService silently
    // cancels a task forever once one execution throws, so retry EXHAUSTION
    // must be logged-and-swallowed here or one bad burst kills the flow for
    // the rest of the process lifetime. Throwable, not Exception: an OOM or
    // LinkageError escaping would cancel the schedule by the same mechanism
    // — log it too (if the JVM is truly dying nothing here matters anyway).
    // log4j in the graft hierarchy, not stderr: retry EXHAUSTION killing a
    // whole cycle must land in the tickers_logs table via the
    // LogAppenderBridge, queryable next to the per-attempt Retry warnings
    val flowLog = org.apache.logging.log4j.LogManager.getLogger(getClass)
    def every(name: String, sec: Long)(op: => Unit): Unit = {
      sched.scheduleWithFixedDelay(() =>
        try op catch {
          case t: Throwable =>
            flowLog.error(s"[flow] $name cycle failed after retries " +
              s"(next cycle in $sec s): $t")
        }, sec, sec, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    every("proceedStatus", cfg.proceedStatus.workCycleSec) {
      Retry(cfg.proceedStatus.retry, "advanceStatuses") {
        Lifecycle.advanceStatuses(journal, LocalDate.now(), now())
      }
    }
    // malformed rows are kept beside the warehouse (underscore-prefixed, so
    // warehouse reads skip them), like the _corpus and _drift_* stores
    val quarantine = Some(s"$warehouseDir/_quarantine")
    every("uploadData", cfg.uploadData.workCycleSec) {
      // two retry layers, as in the reference: the uploader's flush retry
      // (maxFlushDataAttempts/sleepOnReconnectMs) around the ingest itself,
      // the flow's retry around the whole cycle
      Retry(cfg.uploadData.retry, "uploadFlow") {
        // each claim is capped (DefaultClaimLimit); drain the READY backlog
        // within the cycle while batches keep SUCCEEDING. An erroring batch
        // just exits the loop (processReady reports errors rather than
        // throwing, so the flow-level Retry does NOT engage here) — the
        // quarantined set waits for manual ERROR->READY re-queue and the
        // next fixed-delay cycle picks up the rest
        var rep = Lifecycle.processReady(spark, journal, root, warehouseDir, now(),
          quarantineDir = quarantine,
          retry = RetryPolicy(cfg.ingest.maxFlushAttempts, cfg.ingest.sleepOnRetryMs),
          external = externalSink)
        while (rep.finished > 0 && rep.errored == 0 && rep.remainingReady > 0) {
          rep = Lifecycle.processReady(spark, journal, root, warehouseDir, now(),
            quarantineDir = quarantine,
            retry = RetryPolicy(cfg.ingest.maxFlushAttempts, cfg.ingest.sleepOnRetryMs),
            external = externalSink)
        }
      }
    }
    every("cleanup", cfg.cleanup.workCycleSec) {
      Retry(cfg.cleanup.retry, "cleanup") {
        Lifecycle.cleanup(journal, root, LocalDate.now())
        // journal snapshot on the GC cadence (3 h default): the batch log
        // otherwise grows without bound and a restart replays all of it;
        // journal mutators are synchronized, so a concurrent append lands
        // in the new generation, never between snapshot and delete
        journal.compact(now())
        // warehouse small-files pass: partitions accumulate one file set
        // per ingest cycle; rewrite any that fragmented past 8 files
        // (maintenanceLock serializes against concurrent commits)
        TickerIngest.fragmentedPartitions(spark, warehouseDir, threshold = 8)
          .foreach(dt => TickerIngest.compactPartition(spark, warehouseDir, dt))
        // same pass for the fingerprint store's hash buckets (one file per
        // bucket per admitted batch; its own lock serializes against the
        // corpus-admission stream's probe-then-append batches)
        graft.operators.FingerprintStore.compact(spark, s"$warehouseDir/_fp_store")
        // fold the streaming sketch stores on the same cadence: flows 8/9
        // write one batch dir per micro-batch, and the in-stream fold only
        // fires every foldEvery batches — a slow drip (few files per cycle)
        // would otherwise accumulate dirs for days before the counter trips.
        // Each fold serializes against its live stream on the store's own
        // per-path lock (the FingerprintStore discipline), so running here
        // concurrently with flows 8/9 is safe.
        graft.streaming.StreamingTopK.compact(spark, s"$warehouseDir/_hh_store")
        graft.streaming.StreamingQuantiles.compact(spark, s"$warehouseDir/_len_store")
        // surface the rollup advisor's accumulated recommendations on the
        // maintenance cadence — building is the OPERATOR's call (the NDV
        // trade is theirs), so the app logs, never auto-materializes
        graft.plans.RollupAdvisor.advise(3).foreach { c =>
          flowLog.info(s"[advisor] rollup candidate: base=${c.basePath} " +
            s"group=(${c.groupCols.mkString(",")}) " +
            s"measures=(${c.measureCols.mkString(",")}) hits=${c.hits}")
        }
      }
    }
    // awaitANYTermination: a dead corpus-admission stream must stop the app
    // loudly (awaiting only discovery would leave flow 5 silently dead for
    // the process lifetime). Shut the (non-daemon) scheduler down however
    // the streams end, or its threads keep a half-dead JVM alive running
    // flows against a stopped app — and stop() itself can throw (stop
    // timeout), so the scheduler shutdown is its own finally.
    try spark.streams.awaitAnyTermination()
    finally {
      try {
        for (qq <- Seq(q, corpusQ, vecQ, hhQ, lenQ) ++ driftQ) {
          qq.exception.foreach(e =>
            flowLog.error(s"[flow] streaming query terminated with: ${e.message}"))
          try qq.stop()
          catch { case t: Throwable =>
            flowLog.error(s"[flow] stop failed (continuing shutdown): $t") }
        }
      } finally sched.shutdownNow()
    }
  }
}
