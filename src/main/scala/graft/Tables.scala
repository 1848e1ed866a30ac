package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and reads
  * only through here, so the scan always goes through one code path — making
  * it trivial to swap the physical source (parquet dir now; a real lakehouse
  * catalog at scale) without touching operator code.
  */
object Tables {
  /** Inferred-schema cache, keyed by (path, mtime, length) — the local
    * analog of reading through a catalog/metastore (at 100 TB a manifest-
    * backed table format supplies the schema; see the optimization guide
    * §6 on avoiding per-query listing/footer work). Measured (ReadCost,
    * sf0.1): a bare `spark.read.parquet` pays 42–71 ms of driver-side
    * footer inference PER CALL; with the schema supplied it is 5–8 ms,
    * and the file listing still happens fresh on every load — so data
    * rewritten under the same path is picked up (and the mtime/length in
    * the key drops the stale schema if a rewrite changes it, e.g. the
    * ScaleBench replica builders). This caches METADATA only: every query
    * run still scans the parquet bytes.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val f = new java.io.File(path)
    // Bypass the cache when the stamp is unreadable (non-local URI or a
    // vanished path: File.lastModified returns 0 there, and a 0-keyed
    // entry could serve a stale schema after a rewrite — spark.read
    // .schema silently drops/miscasts columns rather than erroring).
    if (!f.exists() || f.lastModified == 0L) return spark.read.parquet(path)
    val stamp = s"${f.lastModified}:${f.length}"
    // one entry PER PATH, replaced on rewrite — not appended (the r18
    // keyed-by-(path,stamp) map accumulated dead entries across the
    // ScaleBench replica rewrites in long-lived sessions)
    // infer outside the map's bin lock (a parquet footer read can take
    // seconds on a remote store); a racing miss just infers twice
    val schema = Option(schemaCache.get(path)).filter(_._1 == stamp).map(_._2).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemaCache.put(path, (stamp, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Normalize `events.ts` to a micros TimestampType whatever the parquet
    * writer produced — the generator has shipped both encodings across
    * rounds:
    *  - TIMESTAMP(NANOS): Spark reads it only as a nanos-since-epoch Long
    *    (`spark.sql.legacy.parquet.nanosAsLong=true` — set in every session
    *    builder here); truncate to micros. The DuckDB oracle applies the
    *    identical `CAST(ts AS TIMESTAMP)` truncation so both engines agree.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TimestampNTZType; cast to TimestampType — value-preserving under
    *    the UTC session timezone every entry point pins, and it keeps the
    *    column type downstream operators (unix_micros, bigint casts,
    *    Row.getTimestamp) were built against.
    */
  private def withTsMicros(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Spread a small single-file scan across all cores before a CPU-heavy
    * per-row projection (hashing, shingling, vector math). Locally a small
    * table arrives as ONE input split, so without this the projection runs
    * single-threaded; at scale the source has many splits and this exchange
    * is a metadata-sized no-op relative to the work it parallelizes.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = withTsMicros(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
