package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import graft.sinks.{ClickHouseHttpConfig, ClickHouseHttpSink}

/** An in-process ClickHouse HTTP protocol double: accepts the wire shape
  * the real server accepts for the subset the sink speaks (gzip'd CSV
  * INSERT ... FORMAT CSV, TRUNCATE, SELECT count() FORMAT TabSeparated),
  * records per-request metadata (gzip? chunked? params?), and injects
  * failures for the retry contract. The real server is unreachable from
  * this sandbox; this pins the CLIENT side of the wire byte-for-byte.
  */
class FakeClickHouse {
  case class Req(query: String, params: Map[String, String], gzip: Boolean,
      chunked: Boolean, user: String, rows: Int)

  val stored = new ConcurrentLinkedQueue[Seq[String]]()
  val requests = new ConcurrentLinkedQueue[Req]()
  val failNext = new AtomicInteger(0)
  private var server: HttpServer = _

  /** The server-side dedup-window BEHAVIOR (not just request shape): the
    * last `DedupWindow` distinct tokens, FIFO-evicted — ClickHouse keeps
    * the last N block hashes/tokens per table the same way
    * (non_replicated_deduplication_window). An insert whose token is
    * still in the window is acknowledged 200 but its rows are DROPPED;
    * and, faithfully to the real server, the token only engages when the
    * insert is synchronous OR `async_insert_deduplicate=1` rides along —
    * an async insert without it keeps the token as a no-op (the silent
    * at-least-once degradation the sink's config flag documents).
    */
  val DedupWindow = 100
  private val dedupTokens =
    java.util.Collections.newSetFromMap[String](
      new java.util.LinkedHashMap[String, java.lang.Boolean]() {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
          size() > DedupWindow
      })

  /** True iff this request's rows must be dropped as a dedup-window hit. */
  private def dedupHit(params: Map[String, String]): Boolean =
    params.get("insert_deduplication_token").exists { t =>
      val engaged = !params.get("async_insert").contains("1") ||
        params.get("async_insert_deduplicate").contains("1")
      engaged && dedupTokens.synchronized(!dedupTokens.add(t))
    }

  def start(): Int = {
    server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = try {
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    val query = params.getOrElse("query", "")
    val gzip = Option(ex.getRequestHeaders.getFirst("Content-encoding"))
      .exists(_.equalsIgnoreCase("gzip"))
    val chunked = Option(ex.getRequestHeaders.getFirst("Transfer-encoding"))
      .exists(_.toLowerCase.contains("chunked"))
    val user = Option(ex.getRequestHeaders.getFirst("X-clickhouse-user")).getOrElse("")
    if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      // drain the body first (a reset mid-upload surfaces as IOException
      // client-side, which is also fine for the retry contract — but a
      // clean 500 pins the error-message path)
      ex.getRequestBody.readAllBytes()
      respond(ex, 500, "Code: 252. DB::Exception: Too many parts (simulated)")
      return
    }
    if (query.startsWith("INSERT INTO")) {
      require(query.endsWith("FORMAT CSV"), s"unexpected insert format: $query")
      val raw = ex.getRequestBody
      val in = if (gzip) new GZIPInputStream(raw) else raw
      val text = new String(in.readAllBytes(), "UTF-8")
      val rows = parseCsv(text)
      // the real server acknowledges a dedup-window replay with 200 and
      // drops the data — the client cannot tell (and must not need to)
      if (!dedupHit(params)) rows.foreach(stored.add)
      requests.add(Req(query, params, gzip, chunked, user, rows.size))
      respond(ex, 200, "")
    } else if (query.startsWith("TRUNCATE TABLE")) {
      stored.clear()
      requests.add(Req(query, params, gzip, chunked, user, 0))
      respond(ex, 200, "")
    } else if (query.startsWith("SELECT count()")) {
      requests.add(Req(query, params, gzip, chunked, user, 0))
      respond(ex, 200, s"${stored.size()}\n")
    } else respond(ex, 400, s"unsupported query: $query")
  } catch {
    case t: Throwable => respond(ex, 500, s"double error: $t")
  }

  /** Minimal ClickHouse-CSV parser: `"`-quoted fields with `""` doubling,
    * `\N` = NULL (represented here as the literal string "NULL__").
    */
  private def parseCsv(text: String): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    val field = new StringBuilder
    val row = Seq.newBuilder[String]
    var inQuotes = false
    var i = 0
    def endField(): Unit = {
      val s = field.toString
      row += (if (s == "\\N") "NULL__" else s)
      field.clear()
    }
    def endRow(): Unit = { endField(); out += row.result(); row.clear() }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"' && i + 1 < text.length && text.charAt(i + 1) == '"') {
          field += '"'; i += 1
        } else if (c == '"') inQuotes = false
        else field += c
      } else c match {
        case '"' => inQuotes = true
        case ',' => endField()
        case '\n' => endRow()
        case '\r' => ()
        case other => field += other
      }
      i += 1
    }
    if (field.nonEmpty || row.result().nonEmpty) endRow()
    out.result()
  }
}

/** The ClickHouse HTTP wire client, proven against the protocol double:
  * request shape, gzip, chunked pipelining, per-partition fan-out, CSV
  * round-trips, and the at-least-once retry contract.
  */
class ClickHouseHttpSinkSpec extends SparkSpec {
  import spark.implicits._

  private def withServer[T](f: (FakeClickHouse, ClickHouseHttpConfig) => T): T = {
    val fake = new FakeClickHouse
    val port = fake.start()
    try f(fake, ClickHouseHttpConfig("127.0.0.1", port, "tickers_data_db", "tickers_data"))
    finally fake.stop()
  }

  test("per-partition gzip'd chunked CSV inserts round-trip, params ride along") {
    withServer { (fake, cfg) =>
      val sink = new ClickHouseHttpSink(cfg)
      val df = Seq(
        ("AVA-USDT", 1L, 0.5, "plain"),
        ("B,C", 2L, 0.75, "with \"quotes\""),
        ("line\nbreak", 3L, 1.25, null),
        ("unicode ✓", 4L, 2.0, "ok")
      ).toDF("ticker", "seq", "price", "note").repartition(3)
      sink.append(df)
      val got = fake.stored.asScala.toSeq.map(_.mkString("|")).sorted
      assert(got == Seq(
        "AVA-USDT|1|0.5|plain",
        "B,C|2|0.75|with \"quotes\"",
        "line\nbreak|3|1.25|NULL__",
        "unicode ✓|4|2.0|ok").sorted, got)
      val inserts = fake.requests.asScala.filter(_.query.startsWith("INSERT")).toSeq
      assert(inserts.nonEmpty && inserts.size <= 3, s"one POST per non-empty partition: $inserts")
      inserts.foreach { r =>
        assert(r.query == "INSERT INTO tickers_data_db.tickers_data FORMAT CSV", r.query)
        assert(r.gzip, "body must be gzip'd (the reference's pass-thru compression)")
        assert(r.chunked, "upload must stream chunked — no whole-batch buffering")
        assert(r.params.get("async_insert").contains("1") &&
          r.params.get("wait_for_async_insert").contains("1"),
          s"async-insert params must ride every insert: ${r.params}")
        assert(r.params.get("database").contains("tickers_data_db"))
        assert(r.user == "default")
      }
    }
  }

  test("truncate and count speak the statement wire path") {
    withServer { (fake, cfg) =>
      val sink = new ClickHouseHttpSink(cfg)
      sink.append(Seq(("X", 1L), ("Y", 2L)).toDF("t", "s").coalesce(1))
      assert(sink.count(spark) == 2L)
      sink.truncate(spark)
      assert(sink.count(spark) == 0L)
      val qs = fake.requests.asScala.map(_.query).toSeq
      assert(qs.contains("TRUNCATE TABLE tickers_data_db.tickers_data"))
      assert(qs.count(_.startsWith("SELECT count()")) == 2)
    }
  }

  test("a 500 surfaces as an exception and the retry layer recovers (at-least-once)") {
    withServer { (fake, cfg) =>
      val sink = new ClickHouseHttpSink(cfg)
      val df = Seq(("R", 9L)).toDF("t", "s").coalesce(1)
      fake.failNext.set(1)
      val err = intercept[Exception] { sink.append(df) }
      assert(err.getMessage != null, "failure must propagate, never be swallowed")
      // the engine's B4 retry wrapper around the whole cycle — the same
      // two-layer contract the reference runs (maxFlushDataAttempts)
      graft.pipeline.Retry(graft.pipeline.RetryPolicy(maxAttempts = 3, sleepMs = 1),
        "ch-append") { sink.append(df) }
      assert(fake.stored.asScala.toSeq == Seq(Seq("R", "9")))
    }
  }

  test("upload cycle publishes the staged batch to the external sink before finalize") {
    withServer { (fake, cfg0) =>
      val cfg = cfg0.copy(table = "tickers_data")
      val sink = new ClickHouseHttpSink(cfg)
      val root = tmpDir("ch-root")
      val wh = tmpDir("ch-wh")
      def seed(j: graft.journal.TickerFileJournal, name: String, date: String,
          at: String): Unit = {
        new java.io.File(s"$root/$date").mkdirs()
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/$date/$name"),
          ("AVA-USDT,1,0.5,15.2,0.501,100.0,0.499,80.5,2024-03-14T12:34:56.123\n" +
           "AVA-USDT,2,0.6,15.2,0.601,100.0,0.599,80.5,2024-03-14T12:35:56.123").getBytes)
        j.appendDiscovered(Seq((name, dt(date))), ts(s"$at:00"))
        j.transition(Seq(name), graft.schema.FileStatus.ReadyForProcessing, ts(s"$at:30"))
        ()
      }
      val j = new graft.journal.TickerFileJournal(spark, tmpDir("ch-journal"))
      seed(j, "AVA_1_2024-08-06", "2024-08-06", "2024-08-08 09:00")
      val rep = graft.pipeline.Lifecycle.processReady(spark, j, root, wh,
        ts("2024-08-08 10:00:00"), external = Some(sink))
      assert(rep.finished == 1 && rep.errored == 0 && rep.rows == 2)
      // both stores saw the batch: parquet committed AND the wire received it
      assert(graft.ingest.TickerIngest.warehouse(spark, wh).count() == 2)
      assert(fake.stored.size() == 2, s"external sink must receive the batch")
      // sequences 1 and 2 rode the wire
      assert(fake.stored.asScala.map(_(1)).toSet == Set("1", "2"))

      // publish failure: claim quarantined to ERROR, warehouse NOT committed
      fake.failNext.set(99)
      seed(j, "AVA_2_2024-08-07", "2024-08-07", "2024-08-08 11:00")
      val rep2 = graft.pipeline.Lifecycle.processReady(spark, j, root, wh,
        ts("2024-08-08 12:00:00"), external = Some(sink))
      assert(rep2.errored == 1, "publish exhaustion must quarantine the claim")
      assert(j.statusOf("AVA_2_2024-08-07").contains(graft.schema.FileStatus.Error))
      assert(graft.ingest.TickerIngest.warehouse(spark, wh).count() == 2,
        "a failed publish must leave the warehouse uncommitted")
      // ERROR -> READY requeue + a healthy server: at-least-once delivery
      fake.failNext.set(0)
      j.transition(Seq("AVA_2_2024-08-07"), graft.schema.FileStatus.ReadyForProcessing,
        ts("2024-08-08 12:30:00"))
      val rep3 = graft.pipeline.Lifecycle.processReady(spark, j, root, wh,
        ts("2024-08-08 13:00:00"), external = Some(sink))
      assert(rep3.finished == 1)
      assert(graft.ingest.TickerIngest.warehouse(spark, wh).count() == 4)
      assert(fake.stored.size() == 4)
    }
  }

  test("appendBatch: per-partition dedup token, stable across a simulated retry") {
    withServer { (fake, cfg) =>
      val sink = new ClickHouseHttpSink(cfg)
      val df = Seq(("A", 1L), ("B", 2L), ("C", 3L)).toDF("t", "s").repartition(3)
      sink.appendBatch(df, batchId = 7L)
      val tok1 = fake.requests.asScala.filter(_.query.startsWith("INSERT"))
        .flatMap(_.params.get("insert_deduplication_token")).toSeq
      assert(tok1.nonEmpty && tok1.size <= 3)
      // token shape: (table, batch id, partition id) — nothing attempt-scoped
      tok1.foreach(t => assert(t.matches("graft-tickers_data-b7-p\\d+"), t))
      assert(tok1.distinct.size == tok1.size, s"one token per partition: $tok1")

      // a retry of the SAME batch re-sends byte-identical tokens — the
      // server-side dedup key; a different batch gets different tokens
      fake.requests.clear()
      sink.appendBatch(df, batchId = 7L)
      val tok2 = fake.requests.asScala.filter(_.query.startsWith("INSERT"))
        .flatMap(_.params.get("insert_deduplication_token")).toSeq
      assert(tok2.sorted == tok1.sorted, s"retry tokens must match: $tok1 vs $tok2")
      fake.requests.clear()
      sink.appendBatch(df, batchId = 8L)
      val tok3 = fake.requests.asScala.filter(_.query.startsWith("INSERT"))
        .flatMap(_.params.get("insert_deduplication_token")).toSeq
      assert(tok3.toSet.intersect(tok1.toSet).isEmpty, s"new batch, new tokens: $tok3")

      // the plain at-least-once append carries NO token
      fake.requests.clear()
      sink.append(df)
      assert(fake.requests.asScala.filter(_.query.startsWith("INSERT"))
        .forall(!_.params.contains("insert_deduplication_token")))
    }
  }

  test("tokened inserts pin async_insert_deduplicate=1; plain appends do not") {
    withServer { (fake, cfg) =>
      // under the default async_insert=1 ClickHouse IGNORES the dedup
      // token unless async_insert_deduplicate=1 — without it the
      // wire-exactly-once claim silently degrades to at-least-once, so
      // every tokened request must carry the pair together
      val sink = new ClickHouseHttpSink(cfg)
      val df = Seq(("A", 1L), ("B", 2L)).toDF("t", "s").repartition(2)
      sink.appendBatch(df, batchId = 1L)
      val tokened = fake.requests.asScala.filter(_.query.startsWith("INSERT"))
      assert(tokened.nonEmpty)
      tokened.foreach { r =>
        assert(r.params.contains("insert_deduplication_token"))
        assert(r.params.get("async_insert_deduplicate").contains("1"),
          s"token without async_insert_deduplicate=1 is a silent no-op: ${r.params}")
      }
      fake.requests.clear()
      sink.append(df)
      assert(fake.requests.asScala.filter(_.query.startsWith("INSERT"))
        .forall(!_.params.contains("async_insert_deduplicate")))
    }
  }

  test("appendBatch stream identity: same checkpoint replays tokens, a reset cannot collide") {
    withServer { (fake, cfg) =>
      val sink = new ClickHouseHttpSink(cfg)
      val df = Seq(("A", 1L)).toDF("t", "s").repartition(1)
      def tokens(): Seq[String] = {
        val t = fake.requests.asScala.filter(_.query.startsWith("INSERT"))
          .flatMap(_.params.get("insert_deduplication_token")).toSeq
        fake.requests.clear(); t
      }
      val ck1 = tmpDir("sid-ck1")
      val ck2 = tmpDir("sid-ck2")
      // the id persists WITH the checkpoint: re-attaching the same
      // checkpoint rereads it (replayed batches re-send byte-identical
      // tokens and dedup), a different checkpoint mints a different one
      val sid1 = ClickHouseHttpSink.streamInstanceId(spark, ck1)
      assert(ClickHouseHttpSink.streamInstanceId(spark, ck1) == sid1)
      val sid2 = ClickHouseHttpSink.streamInstanceId(spark, ck2)
      assert(sid1 != sid2, "two streams must never share a token namespace")
      // a checkpoint RESET (wiped dir, batchId restarts at 0) would reuse
      // batch-keyed tokens and make ClickHouse silently DROP fresh rows;
      // the namespace makes the post-reset tokens disjoint
      sink.appendBatch(df, batchId = 0L, streamId = Some(sid1))
      val before = tokens()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck1))
      val sid1b = ClickHouseHttpSink.streamInstanceId(spark, ck1)
      assert(sid1b != sid1, "a reset checkpoint must mint a fresh id")
      sink.appendBatch(df, batchId = 0L, streamId = Some(sid1b))
      assert(tokens().toSet.intersect(before.toSet).isEmpty,
        "post-reset batch 0 must not collide with pre-reset batch 0")

      // pre-namespace checkpoint (committed offsets, no id file): the id
      // comes back EMPTY and the tokens stay byte-identical to the legacy
      // format — an in-flight batch replayed across the code upgrade must
      // re-send the tokens its first attempt already registered, or the
      // server inserts it twice
      val ckLegacy = tmpDir("sid-legacy")
      new java.io.File(s"$ckLegacy/offsets").mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$ckLegacy/offsets/0"), "v1".getBytes)
      val sidL = ClickHouseHttpSink.streamInstanceId(spark, ckLegacy)
      assert(sidL.isEmpty, s"legacy checkpoint must keep legacy tokens, got '$sidL'")
      sink.appendBatch(df, batchId = 3L, streamId = Some(sidL))
      val legacyToks = tokens()
      assert(legacyToks.nonEmpty &&
        legacyToks.forall(_.matches("graft-tickers_data-b3-p\\d+")),
        s"legacy tokens must carry no -s segment: $legacyToks")
    }
  }

  test("dedup window BEHAVIOR: a checkpoint replay inserts zero duplicate rows") {
    withServer { (fake, cfg) =>
      // the strongest exactly-once evidence obtainable without a real
      // server: the double now DROPS a replayed token's rows (not merely
      // records the request shape), so duplicate-freedom is asserted
      // through the double's STATE
      val sink = new ClickHouseHttpSink(cfg)
      val df = Seq(("A", 1L), ("B", 2L), ("C", 3L)).toDF("t", "s").repartition(3)
      sink.appendBatch(df, batchId = 7L, streamId = Some("ab12cd34"))
      assert(fake.stored.size() == 3)
      // a checkpoint replay (same stream id, same batch id — Structured
      // Streaming's foreachBatch contract) re-sends byte-identical
      // tokens: the server acknowledges and drops every partition
      sink.appendBatch(df, batchId = 7L, streamId = Some("ab12cd34"))
      assert(fake.stored.size() == 3, "replayed batch must insert ZERO rows")
      // a task-retry-shaped replay (ONE partition re-POSTs its rows under
      // the same token) is the same server-side path: single-partition
      // frame so the (batch, partition) token is deterministic
      val one = Seq(("R", 9L)).toDF("t", "s").coalesce(1)
      sink.appendBatch(one, batchId = 9L, streamId = Some("ab12cd34"))
      assert(fake.stored.size() == 4)
      sink.appendBatch(one, batchId = 9L, streamId = Some("ab12cd34"))
      assert(fake.stored.size() == 4, "partition retry must not duplicate")
      // the NEXT batch's tokens are fresh: rows land
      sink.appendBatch(df, batchId = 8L, streamId = Some("ab12cd34"))
      assert(fake.stored.size() == 7)
    }
  }

  test("dedup window BEHAVIOR: a checkpoint reset's fresh stream id inserts them all") {
    withServer { (fake, cfg) =>
      val sink = new ClickHouseHttpSink(cfg)
      val df = Seq(("A", 1L)).toDF("t", "s").coalesce(1)
      val ck = tmpDir("dedup-reset-ck")
      val sid1 = ClickHouseHttpSink.streamInstanceId(spark, ck)
      sink.appendBatch(df, batchId = 0L, streamId = Some(sid1))
      assert(fake.stored.size() == 1)
      // without the namespace, post-reset batch 0 would re-use the
      // pre-reset token still in the server's window and the fresh row
      // would be SILENTLY DROPPED (data loss, not failed dedup); the
      // fresh id keeps it disjoint and the row lands
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      val sid2 = ClickHouseHttpSink.streamInstanceId(spark, ck)
      assert(sid2 != sid1)
      sink.appendBatch(df, batchId = 0L, streamId = Some(sid2))
      assert(fake.stored.size() == 2,
        "post-reset batch 0 must insert through the double's dedup state")
    }
  }

  test("asyncInsertDeduplicate=false: tokened async inserts degrade to at-least-once") {
    withServer { (fake, cfg0) =>
      // the pre-22.9-server escape hatch: the param is withheld, so the
      // double (faithful to the real server) keeps the token as a no-op
      // under async_insert=1 and a replay DOES duplicate — the documented
      // tradeoff, asserted through behavior so it can never rot silently
      val sink = new ClickHouseHttpSink(cfg0.copy(asyncInsertDeduplicate = false))
      val df = Seq(("A", 1L)).toDF("t", "s").coalesce(1)
      sink.appendBatch(df, batchId = 1L, streamId = Some("ab12cd34"))
      sink.appendBatch(df, batchId = 1L, streamId = Some("ab12cd34"))
      val inserts = fake.requests.asScala.filter(_.query.startsWith("INSERT")).toSeq
      assert(inserts.forall(r => r.params.contains("insert_deduplication_token") &&
        !r.params.contains("async_insert_deduplicate")))
      assert(fake.stored.size() == 2,
        "with the flag off the token must NOT dedup async inserts")
    }
  }

  test("fromConfig rejects malformed and reserved custom params") {
    def conf(params: String) = graft.app.DatabaseConf(
      host = "h", port = 8123, username = "u", password = "p",
      database = "db", customHttpParams = params,
      socketTimeoutMs = 1000, connectTimeoutMs = 1000)
    // well-formed parses
    ClickHouseHttpSink.fromConfig(conf("async_insert=1, wait_for_async_insert=1"), "t")
    // missing '=' is a loud startup error, not an opaque MatchError
    val e1 = intercept[IllegalArgumentException] {
      ClickHouseHttpSink.fromConfig(conf("async_insert"), "t")
    }
    assert(e1.getMessage.contains("key=value"), e1.getMessage)
    // a reserved key would silently replace the statement being executed
    // (or, for async_insert_deduplicate, be silently overridden on every
    // tokened request — rejecting loudly beats contradicting the config)
    Seq("query=DROP TABLE x", "database=other",
        "insert_deduplication_token=fixed",
        "async_insert_deduplicate=0").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        ClickHouseHttpSink.fromConfig(conf(bad), "t")
      }
      assert(e.getMessage.contains("reserved"), s"$bad: ${e.getMessage}")
    }
  }

  test("csvField: ClickHouse CSV cell rules") {
    import ClickHouseHttpSink.csvField
    assert(csvField(null) == "\\N")
    assert(csvField("plain") == "plain")
    assert(csvField("a,b") == "\"a,b\"")
    assert(csvField("say \"hi\"") == "\"say \"\"hi\"\"\"")
    assert(csvField("two\nlines") == "\"two\nlines\"")
    // the string value "\N" must NOT round-trip as NULL (unquoted it is
    // ClickHouse's null literal); leading backslashes quote in general
    assert(csvField("\\N") == "\"\\N\"")
    assert(csvField("\\other") == "\"\\other\"")
    assert(csvField(1.5) == "1.5")
    assert(csvField(42L) == "42")
  }
}
