package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.catalyst.HashFunctions
import graft.functions.TextOps

/** Micro-benchmark: native codegen'd expressions vs their interpreted
  * higher-order-lambda formulations, on the real test tables. Prints one
  * line per pair — the evidence behind the `catalyst/` expression layer
  * (lambda interpreters pay per-element dispatch; `doGenCode` → one
  * compiled loop).
  *
  * Runs at SPARK_GRAFT_CPUS cores ([[ScaleBench.session]]).
  *
  * Usage: runMain graft.tools.ExprBench [sfDir] [reps]
  */
object ExprBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = ScaleBench.session()

    def bench(tag: String)(df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }

    val docs = Tables.fanOut(Tables.documents(spark, sfDir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .localCheckpoint(true)
    val emb = Tables.fanOut(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val pairs = emb.limit(500)
      .crossJoin(emb.limit(500).select(col("embedding").as("e2")))
      .localCheckpoint(true)
    val texts = Tables.fanOut(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val dvecs = emb
      .select(transform(col("embedding"), x => x.cast("double")).as("dv"))
      .localCheckpoint(true)
    // tokenizer-inference A/B: the occurrence stream + the trained vocabs,
    // collected once OUTSIDE timing (both designs pay the training pass)
    val occ = docs.select(explode(col("toks")).as("word"))
      .filter(length(col("word")).between(1, graft.operators.TokenizerOps.UniMaxWordLen))
      .localCheckpoint(true)
    val uniV = graft.operators.TokenizerOps.unigramVocab(spark, sfDir).collect()
    val uniPieces = uniV.map(_.getString(0))
    val uniCosts = uniV.map(_.getLong(2))
    val wpV = graft.operators.TokenizerOps.wordpieceVocab(spark, sfDir).collect()
    val wpInit = wpV.filter(!_.getBoolean(1)).map(_.getString(0))
    val wpCont = wpV.filter(_.getBoolean(1)).map(_.getString(0))
    val maxP = graft.operators.TokenizerOps.UniMaxPiece

    val results = Seq(
      ("dot_product",
        bench("native") { pairs.select(HashFunctions.dot_product(col("embedding"), col("e2")).as("d")) },
        bench("lambda") { pairs.select(aggregate(zip_with(col("embedding"), col("e2"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x).as("d")) }),
      ("shingles3",
        bench("native") { docs.select(HashFunctions.shingles3(col("toks")).as("s")) },
        bench("lambda") { docs.select(
          when(size(col("toks")) >= 3,
            transform(sequence(lit(0), size(col("toks")) - 3),
              i => concat_ws(" ", element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))))
            .otherwise(array()).as("s")) }),
      ("simhash32",
        bench("native") { docs.select(HashFunctions.simhash32(col("toks")).as("h")) },
        Double.NaN), // no tractable lambda formulation (2 shuffles in SQL form)
      ("minhash_signature(k=8)",
        bench("native") { docs.select(HashFunctions.minhash_signature(
          HashFunctions.shingles3(col("toks"), distinct = true), 8).as("sig")) },
        bench("lambda") { docs.select(transform(sequence(lit(0), lit(7)), seed =>
          array_min(transform(HashFunctions.shingles3(col("toks"), distinct = true),
            sh => md5(concat((seed / 4).cast("int").cast("string"), lit("|"), sh))
              .substr(lit(1) + (seed % 4) * 8, lit(8))))).as("sig")) }),
      ("shingle_hashes3",
        bench("native") { docs.select(HashFunctions.shingle_hashes3(col("toks")).as("h")) },
        bench("lambda") { docs.select(transform(
          HashFunctions.shingles3(col("toks"), distinct = true), sh => xxhash64(sh)).as("h")) }),
      ("repetition_stats",
        bench("native") { docs.select(HashFunctions.repetition_stats(col("toks")).as("r")) },
        Double.NaN), // declarative form needs two explode->groupBy shuffles
      ("token_entropy",
        bench("native") { docs.select(HashFunctions.token_entropy(col("toks")).as("e")) },
        bench("groupBy") { docs.select(col("doc_id"), explode(col("toks")).as("w"))
          .groupBy("doc_id", "w").count()
          .groupBy("doc_id").agg(
            sum("count").as("n"),
            sum(when(col("count") > 1,
              round(col("count").cast("double") * log(col("count").cast("double")) * 1e6)
                .cast("long")).otherwise(0L)).as("micro"))
          .select((log(col("n").cast("double")) -
            col("micro").cast("double") / 1e6 / col("n")).as("e")) }),
      // tokenizer inference: the map-only design (vocab rides in as a
      // reference object, zero shuffles) vs the natural alternative — run
      // the expression over the DISTINCT-WORD table and join the stream
      // back on the word key (one distinct + one data-scale shuffle join,
      // the cost a 1000-executor exchange actually pays)
      ("unigram_seg (map vs join)",
        bench("map-only") { occ.select(
          HashFunctions.unigram_seg(col("word"), uniPieces, uniCosts, maxP).as("sg")) },
        bench("word-join") {
          val segTab = occ.distinct().select(col("word"),
            HashFunctions.unigram_seg(col("word"), uniPieces, uniCosts, maxP).as("sg"))
          occ.join(segTab, Seq("word")).select(col("sg"))
        }),
      ("wordpiece_seg (map vs join)",
        bench("map-only") { occ.select(
          HashFunctions.wordpiece_seg(col("word"), wpInit, wpCont, maxP).as("np")) },
        bench("word-join") {
          val segTab = occ.distinct().select(col("word"),
            HashFunctions.wordpiece_seg(col("word"), wpInit, wpCont, maxP).as("np"))
          occ.join(segTab, Seq("word")).select(col("np"))
        }),
      ("count_between", {
        bench("native") { dvecs.select(
          HashFunctions.count_between(col("dv"), lit(-0.5), lit(0.5)).as("c")) }
      }, {
        bench("lambda") { dvecs.select(size(filter(col("dv"),
          x => x >= lit(-0.5) && x <= lit(0.5))).cast("long").as("c")) }
      }),
      ("nfc_normalize (vs UDF)", {
        bench("native") { texts.select(HashFunctions.nfc_normalize(col("text")).as("n")) }
      }, {
        // the non-native alternative is a ScalaUDF: codegen fence + per-row
        // UTF8String->String->UTF8String conversion even for ASCII rows
        val nfcUdf = udf((s: String) =>
          if (s == null) null
          else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
        bench("udf") { texts.select(nfcUdf(col("text")).as("n")) }
      })
    )
    println(f"${"expression"}%-24s ${"native_s"}%10s ${"lambda_s"}%10s ${"speedup"}%8s")
    results.foreach { case (name, nat, lam) =>
      val sp = if (lam.isNaN) "n/a" else f"${lam / nat}%.1fx"
      println(f"$name%-24s $nat%10.3f ${if (lam.isNaN) "n/a" else f"$lam%.3f"}%10s $sp%8s")
    }

    // Bloom-pruned vs plain semi-join A/B. The local wall-clock delta is
    // modest (single-JVM shuffles are cheap and the Bloom build is an extra
    // pass over the small side); the number that scales is the probe-side
    // SHUFFLE RECORD count, which is what a 1000-executor exchange pays for.
    // AQE off so the executed plan is traversable for metrics; broadcast off
    // so the join shuffles its probe side as it would when neither side fits
    // in an executor (the 100 TB regime this operator exists for).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def semiAgg(pruned: Boolean): DataFrame = {
      val li = Tables.load(spark, sfDir, "lineitem")
      val urgent = Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      val joined =
        if (pruned) graft.operators.JoinOps.bloomPrunedSemiJoin(li, "l_orderkey", urgent, "o_orderkey")
        else li.join(urgent.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
      joined.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    }
    // the PROBE-side exchange only — the one whose subtree scans lineitem.
    // Summing every ShuffleExchangeExec would fold in the aggregation
    // exchange and overstate the printed "probe shuffle" figure.
    def shuffleRecords(df: DataFrame): Long = {
      df.collect()
      val probe = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.toString.contains("lineitem") =>
          e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      }
      if (probe.isEmpty) 0L else probe.max
    }
    val tBloom = bench("bloom") { semiAgg(pruned = true) }
    val tPlain = bench("plain") { semiAgg(pruned = false) }
    val (rBloom, rPlain) = (shuffleRecords(semiAgg(pruned = true)),
      shuffleRecords(semiAgg(pruned = false)))
    // a fully-pruned probe (0 records) must print a finite figure
    val fewer = if (rBloom == 0) "inf" else f"${rPlain.toDouble / rBloom}%.1f"
    println(f"${"bloom_semi (vs plain)"}%-24s $tBloom%10.3f $tPlain%10.3f ${f"${tPlain / tBloom}%.1fx"}%8s" +
      f"   probe_shuffle_records: bloom=$rBloom plain=$rPlain (${fewer}x fewer)")

    // DSIR exact-join vs broadcast-CMS A/B. Local wall clock is close (the
    // single-JVM shuffle is cheap and the sketch build is an extra pass);
    // the figure that scales is the TOTAL SHUFFLE RECORD count — the exact
    // path shuffles the full token stream onto the token key, the CMS path
    // shuffles only the per-doc rollup. Counted with a task-metrics
    // listener, not plan metrics: both paths localCheckpoint intermediate
    // frames, whose internal exchanges a plan walk cannot see.
    def totalShuffleRecords(df: => DataFrame): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) { acc.addAndGet(m.shuffleWriteMetrics.recordsWritten); () }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        df.write.format("noop").mode("overwrite").save()
        Thread.sleep(300) // listener bus drains asynchronously
      } finally spark.sparkContext.removeSparkListener(listener)
      acc.get()
    }
    val tExact = bench("dsir_exact") { graft.queries.PipelineQueries.dsirSelect(spark, sfDir) }
    val tCms = bench("dsir_cms") { graft.queries.PipelineQueries.dsirSelectCms(spark, sfDir) }
    val (rExact, rCms) = (
      totalShuffleRecords(graft.queries.PipelineQueries.dsirSelect(spark, sfDir)),
      totalShuffleRecords(graft.queries.PipelineQueries.dsirSelectCms(spark, sfDir)))
    val fewerD = if (rCms == 0) "inf" else f"${rExact.toDouble / rCms}%.1f"
    println(f"${"dsir_cms (vs exact)"}%-24s $tCms%10.3f $tExact%10.3f ${f"${tExact / tCms}%.1fx"}%8s" +
      f"   total_shuffle_records: cms=$rCms exact=$rExact (${fewerD}x fewer)")

    // Kneser–Ney exact-join vs broadcast-CMS A/B — same reading discipline
    // as the DSIR row: the scale figure is total shuffle records (the exact
    // path shuffles the full bigram occurrence stream onto the bigram key;
    // the CMS path's only occurrence-keyed shuffle is the partial-aggregated
    // distinct-type pass, NDV-sized after map-side combine).
    val tKnExact = bench("kn_exact") { graft.queries.PipelineQueries.knBigram(spark, sfDir) }
    val tKnCms = bench("kn_cms") { graft.queries.PipelineQueries.knBigramCms(spark, sfDir) }
    val (rKnExact, rKnCms) = (
      totalShuffleRecords(graft.queries.PipelineQueries.knBigram(spark, sfDir)),
      totalShuffleRecords(graft.queries.PipelineQueries.knBigramCms(spark, sfDir)))
    val fewerK = if (rKnCms == 0) "inf" else f"${rKnExact.toDouble / rKnCms}%.1f"
    println(f"${"kn_cms (vs exact)"}%-24s $tKnCms%10.3f $tKnExact%10.3f ${f"${tKnExact / tKnCms}%.1fx"}%8s" +
      f"   total_shuffle_records: cms=$rKnCms exact=$rKnExact (${fewerK}x fewer)")
    spark.stop()
  }
}
