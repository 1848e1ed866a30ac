package graft

import org.apache.spark.sql.functions._
import graft.catalyst.{GraftExtensions, HashFunctions}
import graft.journal.TickerFileJournal
import graft.schema.FileStatus

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("native expressions answer from SQL text after registration") {
    GraftExtensions.register(spark)
    Seq("the quick brown fox", "the quick brown dog")
      .toDF("text").createOrReplaceTempView("ext_docs")
    val sql = spark.sql(
      """SELECT simhash32(split(text, ' ')) AS sh,
        |       minhash_signature(shingles3(split(text, ' ')), 4) AS sig
        |FROM ext_docs""".stripMargin).collect()
    // must equal the Column-API form exactly
    val api = Seq("the quick brown fox", "the quick brown dog").toDF("text")
      .select(HashFunctions.simhash32(split(col("text"), " ")).as("sh"),
        HashFunctions.minhash_signature(
          HashFunctions.shingles3(split(col("text"), " "), distinct = true), 4).as("sig"))
      .collect()
    assert(sql.map(_.getLong(0)).toSeq == api.map(_.getLong(0)).toSeq)
    assert(sql.map(_.getSeq[String](1)).toSeq == api.map(_.getSeq[String](1)).toSeq)
    // near-identical docs differ in few simhash bits
    val Seq(a, b) = sql.map(_.getLong(0)).toSeq
    assert(java.lang.Long.bitCount(a ^ b) <= 16)

    // round-9 additions answer from SQL text too
    val r9 = spark.sql(
      """SELECT jaro_winkler('martha', 'marhta') AS jw,
        |       merge_pair(array('a', 'a', 'a', 'a'), 'a', 'a') AS mp""".stripMargin)
      .collect()(0)
    assert(r9.getDouble(0) == 0.9611111111111111)
    assert(r9.getSeq[String](1) == Seq("aa", "aa"))
  }

  test("SQL registration rejects wrong arg counts as analysis errors") {
    GraftExtensions.register(spark)
    Seq("x y z").toDF("text").createOrReplaceTempView("ext_arity_docs")
    for (q <- Seq(
      "SELECT dot(split(text, ' ')) FROM ext_arity_docs",
      "SELECT simhash32(split(text, ' '), 2) FROM ext_arity_docs",
      "SELECT minhash_signature(split(text, ' ')) FROM ext_arity_docs")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { spark.sql(q).collect() }
      assert(e.getMessage.toLowerCase.contains("wrong_num_args") ||
        e.getMessage.toLowerCase.contains("argument"), s"$q => ${e.getMessage}")
    }
  }

  test("minhash_signature rejects non-foldable / NULL k as an analysis error") {
    GraftExtensions.register(spark)
    Seq(("x y z", 4)).toDF("text", "k").createOrReplaceTempView("ext_fold_docs")
    for (q <- Seq(
      // column reference: not foldable
      "SELECT minhash_signature(split(text, ' '), k) FROM ext_fold_docs",
      // NULL literal: foldable but evaluates to null
      "SELECT minhash_signature(split(text, ' '), NULL) FROM ext_fold_docs")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { spark.sql(q).collect() }
      assert(e.getMessage.contains("minhash_signature"), s"$q => ${e.getMessage}")
    }
  }

  test("dot_product/eq_count: typed rejection + null-element skip semantics") {
    // wrong element type is an analysis-time error, not silent byte reinterpretation
    val bad = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(HashFunctions.dot_product(col("a"), col("b"))).collect()
    }
    assert(e1.getMessage.contains("dot_product"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(HashFunctions.eq_count(col("a"), col("b"))).collect()
    }
    assert(e2.getMessage.contains("eq_count"), e2.getMessage)
    // null elements are skipped, not read as garbage / NPE
    val nd = Seq((Seq(Option(1.0), None, Option(3.0)),
      Seq(Option(2.0), Option(5.0), Option(4.0)))).toDF("a", "b")
    val dot = nd.select(HashFunctions.dot_product(col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(dot == 1.0 * 2.0 + 3.0 * 4.0)
    val ns = Seq((Seq(Option("x"), None), Seq(Option("x"), Option("x"))))
      .toDF("a", "b")
    assert(ns.select(HashFunctions.eq_count(col("a"), col("b"))).head().getInt(0) == 1)
    // non-null float arrays still agree with the lambda formulation
    val f = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val native = f.select(HashFunctions.dot_product(col("a"), col("b"))).head().getDouble(0)
    val lambda = f.select(aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v))
      .head().getDouble(0)
    assert(native == lambda)
  }

  test("repetition_stats: hand-checked fractions, degenerate inputs, typed rejection") {
    import graft.catalyst.HashFunctions
    // "a b a b a" -> top word a:3/5, bigrams [a b, b a, a b, b a] -> 2/4, ttr 2/5
    val df = Seq("a b a b a", "x", "").toDF("text")
      .select(HashFunctions.repetition_stats(split(trim(col("text")), "\\s+")).as("r"))
      .select("r.top_word_frac", "r.top_bigram_frac", "r.ttr")
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 3.0 / 5 && rows(0).getDouble(1) == 2.0 / 4 &&
      rows(0).getDouble(2) == 2.0 / 5)
    // single token: no bigrams
    assert(rows(1).getDouble(0) == 1.0 && rows(1).getDouble(1) == 0.0 && rows(1).getDouble(2) == 1.0)
    // empty text -> split yields [""] (one empty token), same as the oracle's
    // regexp_split_to_array behavior
    assert(rows(2).getDouble(0) == 1.0 && rows(2).getDouble(2) == 1.0)
    // wrong input type is an analysis error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq(1, 2)).toDF("a").select(HashFunctions.repetition_stats(col("a"))).collect()
    }
    assert(e.getMessage.contains("repetition_stats"), e.getMessage)
    // registered SQL form agrees with the Column form
    graft.catalyst.GraftExtensions.register(spark)
    Seq("p q p q p q").toDF("text").createOrReplaceTempView("rep_docs")
    val viaSql = spark.sql(
      "SELECT repetition_stats(split(trim(text), '\\\\s+')) AS r FROM rep_docs")
      .select("r.top_bigram_frac").head().getDouble(0)
    assert(viaSql == 3.0 / 5)
  }

  test("extensions class builds a session with the functions injected") {
    // verify the SparkSessionExtensions path composes (builder-level config)
    val ext = new GraftExtensions
    val e = new org.apache.spark.sql.SparkSessionExtensions
    ext(e) // no-throw: every registered function + the optimizer rule inject
  }

  test("HoistExpensiveProjectAboveSort moves md5 projection above a global sort, results unchanged") {
    GraftExtensions.register(spark)
    val df = Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("sig"))
      .orderBy("doc_id")
    val optimized = df.queryExecution.optimizedPlan
    // after the rewrite the Sort's child carries the raw columns; the md5
    // projection sits on top
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val sortsBelowProject = optimized.collect {
      case p: Project if p.child.isInstanceOf[Sort] &&
        p.projectList.exists(_.toString.toLowerCase.contains("md5")) => p
    }
    assert(sortsBelowProject.nonEmpty, optimized.toString)
    // and no Sort keeps an md5 projection below it
    val bad = optimized.collect {
      case s: Sort if s.child.toString.toLowerCase.contains("md5(") => s
    }
    assert(bad.isEmpty, optimized.toString)
    // results identical to the unoptimized formulation + still key-sorted
    val rows = df.collect()
    assert(rows.length == 500)
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).sorted.toSeq)
    val direct = Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("sig")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.forall(r => direct(r.getLong(0)) == r.getString(1)))
  }

  test("hoist rule preserves results across seeded projection/sort-key combinations") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(42)
    val heavyExprs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "h_md5" -> md5(col("text")),
      "h_re" -> regexp_replace(col("text"), "[aeiou]+", "_"),
      "h_lev" -> levenshtein(col("text"), reverse(col("text"))),
      "h_hof" -> size(filter(split(col("text"), " "), t => length(t) > 3)))
    val sortKeys = Seq(col("doc_id").asc, col("doc_id").desc,
      col("lang").asc, col("n_chars").desc)
    for (_ <- 1 to 8) {
      val picked = rnd.shuffle(heavyExprs).take(1 + rnd.nextInt(3))
      val keys = rnd.shuffle(sortKeys).take(1 + rnd.nextInt(2)) :+ col("doc_id").asc
      val df = Tables.documents(spark, sf0001)
        .select(Seq(col("doc_id"), col("lang"), col("n_chars")) ++
          picked.map { case (n, c) => c.as(n) }: _*)
        .orderBy(keys: _*)
      val got = df.collect().map(r => r.getLong(0) -> r.toSeq.drop(3)).toMap
      // ground truth: same projections, no sort, no rule interaction
      val want = Tables.documents(spark, sf0001)
        .select(Seq(col("doc_id")) ++ picked.map { case (n, c) => c.as(n) }: _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(got.size == want.size)
      got.foreach { case (k, v) => assert(v == want(k), s"doc $k: $v != ${want(k)}") }
    }
  }

  test("hoist rule leaves ORDER BY on a computed alias untouched") {
    GraftExtensions.register(spark)
    val df = Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("sig"))
      .orderBy("sig") // sort references the projected alias → must not move
    val rows = df.collect()
    assert(rows.map(_.getString(1)).toSeq == rows.map(_.getString(1)).toSeq.sorted)
  }

  test("journal survives a process restart (new instance, same dir)") {
    val dir = tmpDir("restartJournal")
    val j1 = new TickerFileJournal(spark, dir)
    j1.appendDiscovered(Seq(("f1", dt("2024-08-07"))), ts("2024-08-08 10:00:00"))
    j1.transition(Seq("f1"), FileStatus.ReadyForProcessing, ts("2024-08-08 10:01:00"))
    // "restart": a fresh instance over the same directory
    val j2 = new TickerFileJournal(spark, dir)
    assert(j2.statusOf("f1").contains(FileStatus.ReadyForProcessing))
    // transitions continue with monotonic batch_seq across instances
    j2.transition(Seq("f1"), FileStatus.InProgress, ts("2024-08-08 10:02:00"))
    assert(j2.statusOf("f1").contains(FileStatus.InProgress))
    assert(j2.countFiles() == 1)
  }
}
