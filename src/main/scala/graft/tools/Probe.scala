package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Per-query diagnostic for board queries: where one query's time goes,
  * rep by rep. Each rep builds the query's DataFrame (which runs its eager
  * checkpoint jobs) and writes it to the `noop` sink, inside a
  * [[QueryTrace]] span, and prints one line:
  *
  *  - wall ms, and the DataFrame-construction ms within it;
  *  - plan-phase ms from the executions' `queryExecution.tracker`;
  *  - jobs, stages and tasks; shuffle records and bytes written;
  *  - summed executor run, CPU and GC ms.
  *
  * The per-rep series shows the JIT warm-up curve and where it plateaus.
  * After the last rep the query's per-stage table follows, and after all
  * queries the `unattributed` counters (jobs that ran outside any span).
  * `--plans <dir> <suffix>` writes the last rep's formatted plan to
  * `<dir>/<query>_<suffix>.txt`; `k=v` arguments set runtime SQL confs
  * first, for A/B runs in one JVM. Runs at `SPARK_GRAFT_CPUS` cores.
  *
  * Usage: runMain graft.tools.Probe <dataDir> <q1,q2,...> [reps] [--plans <dir> <suffix>] [k=v ...]
  */
object Probe {
  private val Usage = "usage: Probe <dataDir> <q1,q2,...> [reps] [--plans <dir> <suffix>] [k=v ...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val rest = args.drop(2)
    val p = rest.indexOf("--plans")
    require(p < 0 || rest.length > p + 2, Usage)
    val plans = if (p >= 0) Some((rest(p + 1), rest(p + 2))) else None
    val opts = if (p >= 0) rest.patch(p, Nil, 3) else rest
    val reps = opts.flatMap(_.toIntOption).headOption.getOrElse(3)
    val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query: $n")))
    val spark = ScaleBench.session()
    try {
      opts.filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"[probe] conf $k=$v")
      }
      val trace = QueryTrace.install(spark.sparkContext)
      fns.foreach { case (name, fn) =>
        val last = (1 to reps).map { i =>
          val span = s"$name#$i"
          val t0 = System.nanoTime()
          val (df, t1) = trace.span(span) {
            val df = fn(spark, dir)
            val t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            (df, t1)
          }
          val t2 = System.nanoTime()
          val c = trace.report().toMap.getOrElse(span, SpanCounters())
          println(f"[probe] $name rep $i%3d  wall_ms=${(t2 - t0) / 1000000} " +
            f"build_ms=${(t1 - t0) / 1000000} plan_ms=${c.planMs} jobs=${c.jobs} " +
            f"stages=${c.stages} tasks=${c.tasks} shuffle_records=${c.shuffleRecords} " +
            f"shuffle_bytes=${c.shuffleBytes} run_ms=${c.runMs} cpu_ms=${c.cpuMs} gc_ms=${c.gcMs}")
          (span, df)
        }.last
        printStages(name, trace.stagesOf(last._1))
        plans.foreach { case (out, suffix) =>
          new java.io.File(out).mkdirs()
          val f = s"$out/${name}_$suffix.txt"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
            last._2.queryExecution.explainString(FormattedMode) + "\n")
          println(s"[probe] wrote $f")
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      val un = trace.report().toMap.getOrElse(QueryTrace.Unattributed, SpanCounters())
      println(s"[probe] ${QueryTrace.Unattributed} jobs=${un.jobs} stages=${un.stages} tasks=${un.tasks}")
    } finally spark.stop()
  }

  private def printStages(name: String, stages: Seq[StageRec]): Unit = {
    println(f"[probe] $name stages: ${"stage"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s " +
      f"${"cpu_ms"}%8s ${"gc_ms"}%6s ${"in_mb"}%7s ${"sr_mb"}%7s ${"sr_rec"}%9s " +
      f"${"sw_mb"}%7s ${"sw_rec"}%9s ${"tasks"}%5s  where")
    stages.sortBy(_.id).foreach { s =>
      println(f"[probe] $name stages: ${s.id}%5d ${s.wallMs}%8d ${s.runMs}%8d " +
        f"${s.cpuMs}%8d ${s.gcMs}%6d ${s.inputBytes / 1048576.0}%7.1f " +
        f"${s.shuffleReadBytes / 1048576.0}%7.1f ${s.shuffleReadRecords}%9d " +
        f"${s.shuffleWriteBytes / 1048576.0}%7.1f ${s.shuffleWriteRecords}%9d " +
        f"${s.tasks}%5d  ${s.name}")
    }
  }
}
