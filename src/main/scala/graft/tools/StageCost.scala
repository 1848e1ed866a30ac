package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable

/** Dev diagnostic (read-only, like [[ReadCost]]/[[PlanDump]]): per-stage
  * cost breakdown for ONE board query, measured with a stage listener —
  * the guide-§1 "which stage is the time going to" loop without the UI
  * (spark.ui.enabled=false everywhere in this sandbox). Prints, for each
  * stage of a warm run: wall duration, summed executor run/CPU time, GC,
  * shuffle read/write bytes+records, input bytes, and the first
  * operator names from the stage's details — enough to map stages back
  * to plan operators.
  *
  * Usage: runMain graft.tools.StageCost <dataDir> <query> [warmReps]
  */
object StageCost {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageCost <dataDir> <q1,q2,...> [warmReps]")
    val dir = args(0)
    val warmReps = if (args.length > 2) args(2).toInt else 2
    val spark = ScaleBench.session()
    spark.sparkContext.setLogLevel("WARN")
    // optional runtime conf overrides: k=v args after warmReps (adaptive
    // confs are runtime-settable — lets an A/B run both sides in one tool)
    args.drop(3).filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[stagecost] conf $k=$v")
    }
    args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      profile(spark, dir, name, warmReps)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }

  private def profile(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String, warmReps: Int): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    // warm: codegen + page cache + checkpoint paths
    (1 to warmReps).foreach { _ =>
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    case class St(id: Int, nameLine: String, wallMs: Long, runMs: Long,
      cpuMs: Long, gcMs: Long, inB: Long, srB: Long, srRec: Long,
      swB: Long, swRec: Long, tasks: Int)
    val stages = mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(0L)
        stages += St(i.stageId,
          i.name.takeWhile(_ != '\n').take(90),
          wall, m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          i.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // let the listener bus drain (private in SparkContext)
    println(f"[stagecost] $name timed run: $wall%.3f s, ${stages.size} stages")
    println(f"[stagecost] ${"stage"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
      f"${"gc_ms"}%6s ${"in_mb"}%7s ${"sr_mb"}%7s ${"sr_rec"}%9s ${"sw_mb"}%7s " +
      f"${"sw_rec"}%9s ${"tasks"}%5s  where")
    stages.sortBy(_.id).foreach { s =>
      println(f"[stagecost] ${s.id}%5d ${s.wallMs}%8d ${s.runMs}%8d ${s.cpuMs}%8d " +
        f"${s.gcMs}%6d ${s.inB / 1048576.0}%7.1f ${s.srB / 1048576.0}%7.1f " +
        f"${s.srRec}%9d ${s.swB / 1048576.0}%7.1f ${s.swRec}%9d ${s.tasks}%5d  ${s.nameLine}")
    }
    val totRun = stages.map(_.runMs).sum
    val cores = spark.sparkContext.defaultParallelism
    val totCpu = stages.map(_.cpuMs).sum
    println(f"[stagecost] totals: run=${totRun}ms cpu=${totCpu}ms " +
      f"gc=${stages.map(_.gcMs).sum}ms wall=${wall}%.3f s " +
      f"(run/$cores = ${totRun / cores}ms — perfectly parallel floor)")
    spark.sparkContext.removeSparkListener(listener)
  }
}
