package graft

import graft.tools.{QueryTrace, SpanCounters}

/** [[QueryTrace]]'s job attribution on tiny jobs, [[Overlap]]'s legs under
  * a span, and the trace file's core-count routing.
  */
class QueryTraceSpec extends SparkSpec {

  /** One job of one stage and two tasks. */
  private def job(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  private def counters(t: QueryTrace, span: String): SpanCounters =
    t.report().toMap.getOrElse(span, SpanCounters())

  test("a job on the span's thread counts to that span, and install is idempotent") {
    val t = QueryTrace.install(spark.sparkContext)
    assert(QueryTrace.install(spark.sparkContext) eq t)
    t.span("qt_own") { job() }
    val c = counters(t, "qt_own")
    assert((c.jobs, c.stages, c.tasks) == ((1L, 1L, 2L)))
    assert(spark.sparkContext.getLocalProperty(QueryTrace.SpanKey) == null)
  }

  test("a job from a fresh thread with no span lands in unattributed") {
    val t = QueryTrace.install(spark.sparkContext)
    val before = counters(t, QueryTrace.Unattributed)
    val th = new Thread(() => { job(); () })
    th.start()
    th.join()
    val after = counters(t, QueryTrace.Unattributed)
    assert(after.jobs - before.jobs == 1 && after.tasks - before.tasks == 2)
  }

  test("both legs of Overlap.both count to the caller's span; the pool keeps no span") {
    val t = QueryTrace.install(spark.sparkContext)
    val ((legThread, _), _) = t.span("qt_legs") {
      Overlap.both(spark)((Thread.currentThread.getName, job()), job())
    }
    assert(legThread != Thread.currentThread.getName)
    assert(counters(t, "qt_legs").jobs == 2)
    // the same pooled thread, called outside any span, carries none
    val before = counters(t, QueryTrace.Unattributed).jobs
    Overlap.both(spark)(job(), ())
    assert(counters(t, QueryTrace.Unattributed).jobs == before + 1)
    assert(counters(t, "qt_legs").jobs == 2)
  }

  test("per-span sums equal the listener's totals after draining") {
    val t = QueryTrace.install(spark.sparkContext)
    t.span("qt_sql") {
      spark.range(2000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").sum("v").collect()
    }
    val spans = t.report()
    assert(spans.last._1 == QueryTrace.Unattributed)
    assert(spans.map(_._2).reduce(_ + _) == t.totals())
    val sql = spans.toMap.apply("qt_sql")
    assert(sql.jobs >= 1 && sql.shuffleRecords > 0 && sql.planMs > 0, sql)
  }

  test("the trace file follows the board's core-count rule") {
    assert(Bench.tracePath(Bench.RecordCpus) == "BENCH_TRACE.json")
    assert(Bench.tracePath(4) == "BENCH_TRACE_c4.json")
    def target(cpus: Int, committed: Option[String], force: Boolean = false) =
      Bench.commitTarget(cpus, committed, force, Bench.tracePath)(None)
    val c4 = """{"cpus":4,"verdict":"committed","spans":{}}"""
    assert(target(4, Some(c4)) == Right("BENCH_TRACE_c4.json"))
    assert(target(4, None) == Right("BENCH_TRACE_c4.json"))
    val other = target(8, Some(c4))
    assert(other.left.exists(_.contains("BENCH_TRACE_c8.json was captured at 4 cores, this run at 8")), other)
    val unstamped = target(4, Some("""{"spans":{}}"""))
    assert(unstamped.left.exists(_.contains("no cpus stamp")), unstamped)
    assert(target(8, Some(c4), force = true) == Right("BENCH_TRACE_c8.json"))
  }

  test("the committed 4-core trace is stamped and has one entry per board query plus unattributed") {
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val trace = read("BENCH_TRACE_c4.json")
    assert(Bench.boardCpus(trace).contains(4))
    assert(Seq("\"canary_start_s\":", "\"canary_end_s\":", "\"verdict\":").forall(trace.contains))
    val queries = Bench.boardMap(read("BENCH_FULL_c8.json"), "queries").keySet
    assert(queries.size > 250)
    val entries = "\"([^\"]+)\":\\{\"runs\"".r.findAllMatchIn(trace).map(_.group(1)).toSet
    assert(entries == queries)
    assert(trace.contains("\"" + QueryTrace.Unattributed + "\":{\"jobs\""))
  }
}
