package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench commit arm's board routing ([[Bench.commitTarget]]): a run
  * writes only the board for its own core count, and never replaces a
  * board stamped with another core count (or with none) unless forced.
  * Runs the pure helper against the committed boards; no Spark.
  */
class BoardRecordSpec extends AnyFunSuite {

  private def read(p: String) = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  private lazy val record = read("BENCH_FULL.json")
  private lazy val c8 = read("BENCH_FULL_c8.json")

  test("an 8-core run against the 32-core record targets BENCH_FULL_c8.json, never the record") {
    assert(Bench.boardCpus(record).contains(Bench.RecordCpus))
    assert(Bench.boardPath(8) == "BENCH_FULL_c8.json")
    assert(Bench.boardPath(4) == "BENCH_FULL_c4.json")
    // against the committed 8-core board, and as the first 8-core capture
    assert(Bench.commitTarget(8, Some(c8), force = false)(None) == Right("BENCH_FULL_c8.json"))
    assert(Bench.commitTarget(8, None, force = false)(None) == Right("BENCH_FULL_c8.json"))
    // a 32-core board found at the 8-core path is not replaced either
    val misplaced = Bench.commitTarget(8, Some(record), force = false)(None)
    assert(misplaced.left.exists(_.contains("captured at 32 cores, this run at 8")), misplaced)
  }

  test("a run at the record's core count targets BENCH_FULL.json") {
    assert(Bench.boardPath(Bench.RecordCpus) == "BENCH_FULL.json")
    assert(Bench.commitTarget(32, Some(record), force = false)(None) == Right("BENCH_FULL.json"))
    // with the core counts agreeing, the canary and drift arms still decide
    assert(Bench.commitTarget(32, Some(record), force = false)(Some("canary out of bounds")) ==
      Left("canary out of bounds"))
  }

  test("an unstamped or mismatched record refuses the write unless SPARK_GRAFT_FORCE_BENCH=1") {
    val unstamped = record.replaceFirst(""""cpus"\s*:\s*\d+,""", "")
    assert(Bench.boardCpus(unstamped).isEmpty)
    val u = Bench.commitTarget(32, Some(unstamped), force = false)(None)
    assert(u.left.exists(_.contains("no cpus stamp")), u)
    assert(Bench.commitTarget(32, Some(unstamped), force = true)(None) == Right("BENCH_FULL.json"))
    // the 8-core board where the record belongs
    val m = Bench.commitTarget(32, Some(c8), force = false)(None)
    assert(m.left.exists(_.contains("captured at 8 cores, this run at 32")), m)
    assert(Bench.commitTarget(32, Some(c8), force = true)(None) == Right("BENCH_FULL.json"))
    // a core-count refusal is named ahead of the canary and drift arms
    val first = Bench.commitTarget(32, Some(c8), force = false)(Some("drift"))
    assert(first.left.exists(_.contains("captured at 8 cores")), first)
    // force also overrides those arms, as before
    assert(Bench.commitTarget(32, Some(record), force = true)(Some("drift")) == Right("BENCH_FULL.json"))
  }

  test("the committed boards carry their core counts and are full boards") {
    assert(Bench.boardCpus(record).contains(32))
    assert(Bench.boardCpus(c8).contains(8))
    assert(Bench.boardCpus("""{"metric":"total","value":1.0}""").isEmpty)
    Seq(record, c8).foreach { b =>
      assert(Bench.boardMap(b, "queries").size > 250)
      assert(Bench.boardMap(b, "queries_min").size > 250)
    }
  }
}
