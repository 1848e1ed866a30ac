package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** `board_mix`: a rule-chosen subset of `SparkEntry.queries` — the
  * reference's relational shapes (Plane A/B), the ticker time-series
  * family, and the heavy band — run one at a time, in name order, as
  * DataFrame build then execution. Every execution's output is kept (one
  * copy per distinct result) for the DuckDB oracle compare.
  */
final class Board(spark: SparkSession, tr: Tracer, dataDir: String) {
  import Board._

  /** A fixed order: a pass pays each query's first-execution costs, which
    * depend on what ran before it, so a fixed order keeps runs comparable.
    */
  val order: Seq[String] = names
  /** Distinct outputs per query: (fingerprint, rows, schema, executions). */
  val outputs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Output]]()
  private var runs = 0

  /** One pass over the subset in order; returns each query's latency in ms. */
  def pass(): Seq[Double] = order.map(step)

  /** Runs one query and keeps its output; returns its latency in ms. */
  def step(name: String): Double = {
    tr.trace(name)
    runs += 1
    val t0 = System.nanoTime()
    val df = tr.span("queries.build", "queries") { SparkEntry.queries(name)(spark, dataDir) }
    val rows = tr.span("queries.exec", "queries") { df.collect() }
    val ms = (System.nanoTime() - t0) / 1e6
    val fp = fingerprint(rows)
    val outs = outputs.getOrElseUpdate(name, mutable.ArrayBuffer())
    outs.find(_.fp == fp) match {
      case Some(o) => o.executions += 1
      case None => outs += new Output(fp, rows, df.schema)
    }
    ms
  }

  def executions: Int = runs

  /** Writes each distinct output as one parquet file, the same way
    * `graft.Verify` does, plus the oracle SQL, for the compare.
    */
  def writeOutputs(dir: String): String = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val entries = try outputs.toSeq.map { case (name, outs) =>
      val items = outs.zipWithIndex.map { case (o, i) =>
        val path = s"$dir/$name/o$i"
        Future {
          graft.functions.NumOps.normalizeSignedZeros(
            spark.createDataFrame(o.rows.toSeq.asJava, o.schema))
            .coalesce(1).write.mode("overwrite").parquet(path)
        }.map(_ => Json.obj("path" -> Json.str(path), "executions" -> o.executions.toString))
      }
      Future.sequence(items).map(xs => Json.str(name) + ":" + xs.mkString("[", ",", "]"))
    }.map(Await.result(_, 5.minutes))
    finally pool.shutdown()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      graft.Verify.oracleManifest(Some(names.toSet)))
    entries.mkString("{", ",", "}")
  }
}

final class Output(val fp: String, val rows: Array[Row], val schema: StructType) {
  var executions = 1
}

object Board {
  /** The subset rule: Plane A/B shapes, set ops and the full outer join;
    * the ticker time-series family; the heavy band of ROADMAP D2.
    */
  val Rule: String = Seq(
    "a\\d+_.*", "b\\d+_.*", "j_full_outer", "set_.*",
    "ts_.*", "w_time_bucket_ohlc", "w_ohlc_merge",
    "x_kcore", "w_rfm", "p_curation_funnel", "g_trimmed_mean", "x_pagerank", "x_hits").mkString("|")

  def names: Seq[String] = SparkEntry.queries.keys.filter(_.matches(Rule)).toSeq.sorted

  /** Order-independent digest of a result's rows. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
