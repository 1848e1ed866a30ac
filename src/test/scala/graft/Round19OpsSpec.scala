package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-19 additions: committed per-query medians on REFUSED bench lines
  * (`"cqueries"` — the r18 verdict's named gap: a refused artifact's
  * per-query map carried live contaminated medians while the headline
  * carried the committed total, so cross-round per-query diffs compared
  * committed-to-live and manufactured phantom regressions), and the
  * schema-cache hardening (per-path replacement, unreadable-stamp bypass).
  */
class Round19OpsSpec extends AnyFunSuite with SparkSpec {

  // ---- Bench.cqueriesField ----

  test("cqueriesField: refused line carries committed medians for shown keys") {
    val committed = Some(Map("q_a" -> 1.234, "q_b" -> 0.5))
    val f = Bench.cqueriesField(Seq("q_a", "q_b"), committed)
    assert(f == ""","cqueries":{"q_a":1.23,"q_b":0.50}""")
  }

  test("cqueriesField: empty without a committed board (nothing to quote)") {
    assert(Bench.cqueriesField(Seq("q_a"), None) == "")
  }

  test("cqueriesField: shown keys absent from the committed board are skipped") {
    // a query ADDED since the committed capture has no committed median —
    // it must be omitted, never emitted as a sentinel the driver would sum
    val f = Bench.cqueriesField(Seq("q_new", "q_a"), Some(Map("q_a" -> 2.0)))
    assert(f == ""","cqueries":{"q_a":2.00}""")
    // ...and when NO shown key has a committed value, the field vanishes
    // entirely rather than shipping an empty object
    assert(Bench.cqueriesField(Seq("q_new"), Some(Map("q_a" -> 2.0))) == "")
  }

  test("cqueriesField round-trips through the artifact map parser") {
    // the field must parse with the same boardMap the drift gate and the
    // specs use — one quoting bug would corrupt the whole stdout line
    val f = Bench.cqueriesField(Seq("x_kcore", "q1_pricing"),
      Some(Map("x_kcore" -> 2.43, "q1_pricing" -> 0.61)))
    val line = s"""{"metric":"total","value":1.0$f}"""
    val m = Bench.boardMap(line, "cqueries")
    assert(m == Map("x_kcore" -> 2.43, "q1_pricing" -> 0.61))
  }

  test("statusLine: a refused 30-key line stays within 1700 chars") {
    // every shown query costs three entries on a refused line, and the
    // cqueries wrapper rides once — the running budget must count them all
    val keys = (1 to 30).map(i => f"q_a_rather_long_query_name_$i%02d")
    val results = keys.zipWithIndex.map { case (k, i) => k -> ((100.0 + i, 90.0 + i)) }
    val line = Bench.statusLine(""""value":169.81,"unit":"sec","n":30""",
      """"failed":0,"canary":[0.31,0.29]""", results, Some(keys.map(_ -> 123.45).toMap),
      """"full":"BENCH_FULL_c4.json","sf":"/data/sf0.1","refused":"canary loaded"""")
    assert(line.length <= 1700, s"${line.length} chars")
    val shown = Bench.boardMap(line, "queries").keySet
    assert(shown.nonEmpty && shown.size < 30, s"${shown.size} shown")
    assert(Bench.boardMap(line, "qmin").keySet == shown)
    assert(Bench.boardMap(line, "cqueries").keySet == shown)
    assert(line.contains(s""""shown":${shown.size},"""))
  }

  // ---- Tables schema cache ----

  test("schema cache replaces a path's entry on rewrite and serves the new schema") {
    val p = tmpDir("r19cache")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$p/t.parquet")
    assert(Tables.load(spark, p, "t").schema.fieldNames.toSeq == Seq("id", "v"))
    // rewrite with a DIFFERENT schema under the same path; force a new
    // mtime (fs granularity can be 1 s — the stamp must change)
    Seq((2L, "b", 3.0)).toDF("id", "v", "w").write.mode("overwrite")
      .parquet(s"$p/t.parquet")
    val f = new java.io.File(s"$p/t.parquet")
    f.setLastModified(f.lastModified() + 5000)
    assert(Tables.load(spark, p, "t").schema.fieldNames.toSeq == Seq("id", "v", "w"),
      "a rewrite that changes the schema must not be served the stale cache")
  }
}
