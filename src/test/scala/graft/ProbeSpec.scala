package graft

/** Smoke run of [[tools.Probe]]'s main on the smallest data set. Probe
  * stops its session on exit, so this suite never touches `spark`.
  */
class ProbeSpec extends SparkSpec {
  test("Probe prints one trace line per rep and writes the plan file") {
    val out = java.nio.file.Files.createTempDirectory("probe").toFile
    out.deleteOnExit()
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) {
      tools.Probe.main(Array(sf0001, "a11_count", "1",
        "--plans", out.getPath, "t"))
    }
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    val reps = lines.filter(_.startsWith("[probe] a11_count rep"))
    assert(reps.size == 1, lines.mkString("\n"))
    assert(Seq("wall_ms=", "build_ms=", "plan_ms=", "jobs=", "stages=", "tasks=",
      "shuffle_records=", "shuffle_bytes=", "run_ms=", "cpu_ms=", "gc_ms=")
      .forall(reps.head.contains), reps.head)
    val plan = new java.io.File(out, "a11_count_t.txt")
    assert(plan.length > 0)
    plan.deleteOnExit()
  }
}
