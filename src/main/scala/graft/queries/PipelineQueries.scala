package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.{NumOps, TextOps}

/** Round-2 widening of the query surface: the relational shapes a
  * training-data pipeline adds on top of the reference's ETL queries
  * (SURVEY §2.3 + builder brief) — correlated-subquery TPC-H shapes,
  * corpus statistics, deterministic splits/sampling, PII scrubbing,
  * benchmark-contamination checks, fuzzy matching, grouping sets and
  * exact medians.
  *
  * Cross-engine determinism rules (see Scaladoc on [[RelationalQueries]]):
  * money/quantity sums run in DECIMAL and are cast to DOUBLE at the end;
  * every integer SUM in oracle SQL is CAST to BIGINT (DuckDB HUGEINT would
  * come back as float64 through pandas); every output is deterministically
  * ordered with unique-key tiebreaks.
  */
object PipelineQueries {

  private val D2 = DecimalType(18, 2)
  private def dec2(c: Column): Column = c.cast(D2)

  // ---------------------------------------------------------------------
  // TPC-H shapes with correlated aggregates
  // ---------------------------------------------------------------------

  /** TPC-H Q17 shape: revenue from orders of less than 20% of a part's
    * average quantity, for one brand.
    *
    * Scale shape: the brand filter reduces `part` to ~4% — broadcast it,
    * restrict lineitem FIRST, and compute the per-part average only over
    * the restricted rows (the per-part partition makes the early filter
    * semantics-preserving). Both the dimension and the per-part aggregate
    * broadcast, so the fact table is scanned once and never shuffled.
    */
  def q17SmallQty(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23").select("p_partkey")
    val lb = Tables.lineitem(s, d)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val pa = lb.groupBy(col("l_partkey").as("pk"))
      .agg((sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
    lb.join(broadcast(pa), col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        (sum(dec2(col("l_extendedprice"))).cast("double") / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n"))
  }
  val q17SmallQtySql: String =
    """WITH pa AS (
      |  SELECT l_partkey AS pk,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#23' GROUP BY l_partkey)
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       count(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pa ON pk = l_partkey
      |WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty""".stripMargin

  /** TPC-H Q14 shape: promo revenue share for one ship month. Exact decimal
    * revenue sums, one double division at the end.
    */
  def q14Promo(s: SparkSession, d: String): DataFrame = {
    val rev = dec2(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(D2) - dec2(col("l_discount")))
    val p = Tables.part(s, d).select("p_partkey", "p_type")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-03-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 4)))).cast("double") /
          sum(rev).cast("double")).as("promo_pct"),
        count(lit(1)).as("n"))
  }
  val q14PromoSql: String =
    """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |         THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_pct,
      |       count(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** TPC-H Q10 shape: revenue lost to returned items, top 20 customers.
    * Fact-fact join (orders × lineitem) shuffles on the key; the customer
    * and nation dimensions broadcast; top-k is a TakeOrderedAndProject.
    */
  def q10Returned(s: SparkSession, d: String): DataFrame = {
    val rev = dec2(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(D2) - dec2(col("l_discount")))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }
  val q10ReturnedSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    * (aggregate-then-join: the HAVING keys are a tiny set, so the join back
    * to orders/customer broadcasts the aggregate — never the facts).
    */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("lk"))
      .agg(sum(dec2(col("l_quantity"))).cast("double").as("total_qty"))
      .filter(col("total_qty") > 300.0)
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Tables.customer(s, d).select("c_custkey", "c_name")
    o.join(broadcast(big), col("o_orderkey") === col("lk"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "total_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }
  val q18LargeOrdersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey AS lk, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300.0)
      |SELECT c_name, c_custkey, o_orderkey, o_totalprice, total_qty
      |FROM orders JOIN big ON o_orderkey = lk JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q22 shape: customers with above-average balance and no orders —
    * scalar subquery (broadcast single row) + broadcast anti-join.
    */
  def q22NoOrders(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("ab"))
    val o = Tables.orders(s, d).select("o_custkey")
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), sum(dec2(col("c_acctbal"))).cast("double").as("total_bal"))
      .orderBy("c_mktsegment")
  }
  val q22NoOrdersSql: String =
    """WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS ab
      |            FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_mktsegment, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer, ab
      |WHERE c_acctbal > ab
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Corpus statistics / text analysis
  // ---------------------------------------------------------------------

  /** Corpus term frequency top-k: explode(tokens) → count → top 50.
    * The generator (UDTF surface) + partial-agg path: map-side combine
    * means the shuffle moves one row per (partition, token), not per token
    * occurrence — the only plan that survives a 100 TB corpus.
    */
  def termTopK(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  val termTopKSql: String =
    """SELECT t AS token, count(*) AS n
      |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents)
      |GROUP BY 1 ORDER BY n DESC, token LIMIT 50""".stripMargin

  /** Zipf fit of the term-frequency distribution — the corpus-health
    * diagnostic: natural text follows freq ∝ rank^slope with slope ≈ −1;
    * a much flatter slope flags synthetic/templated text, a much steeper
    * one a degenerate vocabulary. OLS of ln(freq) on ln(rank) over the
    * top-[[ZipfK]] terms, one output row (n_terms, slope, intercept).
    *
    * Scale + determinism shape: the count table is partial-aggregable and
    * the top-K cut is `orderBy.limit` (Spark's TakeOrderedAndProject — a
    * per-partition bounded heap, no global sort). Everything after runs on
    * a K-row frame: ranks come from a bounded inequality SELF-JOIN (no
    * partition-less window — the [[AnalyticsQueries.globalCumHistogram]]
    * discipline), and the OLS moments are DECIMAL sums of per-point
    * round-6 doubles, so the fit is bit-stable across engines and
    * partitionings.
    */
  val ZipfK = 100
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val D6 = DecimalType(18, 6)
    val top = Tables.fanOut(Tables.documents(s, d))
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(ZipfK)
      .localCheckpoint(true) // K rows; feeds both sides of the rank join
    val other = top.select(col("n").as("n2"), col("token").as("t2"))
    val ranked = top.join(other,
        col("n2") > col("n") || (col("n2") === col("n") && col("t2") < col("token")),
        "left")
      .groupBy("token", "n")
      .agg((count(col("t2")) + 1).as("rank"))
    val pts = ranked.select(
        round(log(col("rank").cast("double")), 6).as("x"),
        round(log(col("n").cast("double")), 6).as("y"))
      .select(col("x"), col("y"),
        round(col("x") * col("x"), 6).as("xx"),
        round(col("x") * col("y"), 6).as("xy"))
    val m = pts.agg(
      count(lit(1)).as("k"),
      sum(col("x").cast(D6)).cast("double").as("sx"),
      sum(col("y").cast(D6)).cast("double").as("sy"),
      sum(col("xx").cast(D6)).cast("double").as("sxx"),
      sum(col("xy").cast(D6)).cast("double").as("sxy"))
    // a DEGENERATE point set (k = 1, or a constant x domain) zeroes the
    // least-squares denominator: slope/intercept go NULL (the NumOps
    // safeDiv contract, = DuckDB's native x/0 -> NULL), never ANSI-fatal
    val b = graft.functions.NumOps.safeDiv(
      col("k") * col("sxy") - col("sx") * col("sy"),
      col("k") * col("sxx") - col("sx") * col("sx"))
    m.select(col("k").as("n_terms"),
      round(b, 4).as("slope"),
      round((col("sy") - b * col("sx")) / col("k"), 4).as("intercept"))
  }
  val zipfFitSql: String =
    s"""WITH tf AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents)
       |  GROUP BY 1 ORDER BY n DESC, token LIMIT $ZipfK),
       |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM tf),
       |p AS (SELECT round(ln(rank::DOUBLE), 6) AS x, round(ln(n::DOUBLE), 6) AS y FROM r),
       |p2 AS (SELECT x, y, round(x * x, 6) AS xx, round(x * y, 6) AS xy FROM p),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |        CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(xx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |        CAST(sum(CAST(xy AS DECIMAL(18,6))) AS DOUBLE) AS sxy
       |      FROM p2)
       |SELECT k AS n_terms,
       |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) + 0.0 AS slope,
       |  round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 4) + 0.0 AS intercept
       |FROM m""".stripMargin

  /** Population-Stability-Index drift between two corpus slices — the
    * monitor a curation pipeline runs when a new crawl lands: has the
    * token distribution moved? Slices are the even/odd doc_id halves
    * (stand-ins for "reference corpus" vs "incoming batch"); features are
    * the corpus's top-[[PsiK]] terms (the standard tracked-feature-set
    * practice — untracked tail mass is intentionally out of scope, like
    * any production PSI board). Each feature contributes
    * `(p−q)·ln(p/q)` with add-1-smoothed slice probabilities; the usual
    * read: Σ < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
    *
    * Determinism: p and q are single double divisions of exact integers
    * (identical cross-engine), the ln is round-6, the product is round-6
    * DECIMAL — the [[bigramLm]] discipline, so every contribution (and
    * any sum a consumer takes) hash-matches. Scale shape: one
    * partial-aggregable count pass per slice restricted by a broadcast
    * K-term list, output K rows. Nothing data-scale moves after the count.
    */
  val PsiK = 50
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val topTerms = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(PsiK).select("token")
    val sliced = toks.join(broadcast(topTerms), Seq("token"))
      .groupBy("token")
      .agg(
        sum(when(pmod(col("doc_id"), lit(2)) === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(pmod(col("doc_id"), lit(2)) === 1, 1L).otherwise(0L)).as("cb"))
      .localCheckpoint(true) // K rows; feeds the totals AND the per-term score
    // smooth with the ACTUAL tracked-feature count (≤ PsiK — small corpora
    // have fewer distinct tokens), so add-1 probabilities stay normalized
    // and the formula matches StreamingDrift's, which reads its k from the
    // reference table
    val tot = sliced.agg(sum("ca").as("ta"), sum("cb").as("tb"),
      count(lit(1)).as("kk"))
    sliced.crossJoin(broadcast(tot))
      .withColumn("p",
        (col("ca") + 1).cast("double") / (col("ta") + col("kk")).cast("double"))
      .withColumn("q",
        (col("cb") + 1).cast("double") / (col("tb") + col("kk")).cast("double"))
      .select(col("token"), col("ca"), col("cb"),
        round((col("p") - col("q")) * round(log(col("p") / col("q")), 6), 6).as("psi_term"))
      .orderBy("token")
  }
  val psiDriftSql: String =
    s"""WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |            FROM documents),
       |top AS (SELECT token FROM (SELECT token, count(*) AS n FROM tk GROUP BY 1
       |                           ORDER BY n DESC, token LIMIT $PsiK)),
       |c AS (SELECT token,
       |        CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |        CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |      FROM tk JOIN top USING (token) GROUP BY 1),
       |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
       |             CAST(count(*) AS BIGINT) AS kk FROM c),
       |p AS (SELECT token, ca, cb,
       |        (ca + 1)::DOUBLE / (ta + kk) AS p, (cb + 1)::DOUBLE / (tb + kk) AS q
       |      FROM c CROSS JOIN t)
       |SELECT token, ca, cb, round((p - q) * round(ln(p / q), 6), 6) AS psi_term
       |FROM p ORDER BY token""".stripMargin

  /** Multi-epoch token budgeting under data constraints (the
    * Muennighoff et al. 2023 "Scaling Data-Constrained Language Models"
    * recipe, arXiv:2305.16264, reduced to its planning arithmetic): given
    * a token budget of [[BudgetFactor]]× the corpus and a fair per-source
    * share, a small source is repeated up to [[MaxEpochs]] epochs toward
    * its share (returns beyond ~4 epochs are empirically near-zero — the
    * paper's headline) and the shortfall is reported as `deficit` for the
    * mixer to reallocate. All integer arithmetic — floor-div shares, ceil
    * epochs — so the plan is exact and engine-independent. One
    * partial-aggregable rollup per source + a broadcast 1-row total.
    */
  val BudgetFactor = 2
  val MaxEpochs = 4
  def epochPlan(s: SparkSession, d: String): DataFrame = {
    val perSrc = Tables.fanOut(Tables.documents(s, d))
      .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
      .localCheckpoint(true) // source-count-sized; feeds totals AND the plan
    val tot = perSrc.agg(
      (sum("n_tokens") * BudgetFactor).as("budget"),
      count(lit(1)).as("n_src"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("share", expr("budget div n_src"))
      .withColumn("epochs",
        least(lit(MaxEpochs.toLong), expr("(share + n_tokens - 1) div n_tokens")))
      .withColumn("planned_tokens", least(col("share"), col("epochs") * col("n_tokens")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("epochs"),
        col("planned_tokens"),
        (col("share") - col("planned_tokens")).as("deficit"))
      .orderBy("source")
  }
  val epochPlanSql: String =
    s"""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |t AS (SELECT CAST(sum(n_tokens) * $BudgetFactor AS BIGINT) AS budget,
       |             CAST(count(*) AS BIGINT) AS n_src FROM s),
       |x AS (SELECT s.*, budget // n_src AS share,
       |        least($MaxEpochs, (budget // n_src + n_tokens - 1) // n_tokens) AS epochs
       |      FROM s CROSS JOIN t)
       |SELECT source, n_docs, n_tokens, CAST(epochs AS BIGINT) AS epochs,
       |  CAST(least(share, epochs * n_tokens) AS BIGINT) AS planned_tokens,
       |  CAST(share - least(share, epochs * n_tokens) AS BIGINT) AS deficit
       |FROM x ORDER BY source""".stripMargin

  /** Per-source document cap — the common-crawl-style per-domain quota: keep
    * the top 5 docs of every source by length (doc_id tiebreak = a total
    * order, so the boundary is deterministic), through the native
    * bounded-heap grouped top-k ([[graft.plans.TopKPerGroupExec]]) — one
    * exchange on source, O(sources × 5) state, no sort of the corpus. The
    * oracle is the row_number window formulation.
    */
  def sourceCap(s: SparkSession, d: String): DataFrame = {
    graft.catalyst.GraftExtensions.register(s) // TopKPerGroupStrategy
    graft.plans.NativeTopK.perGroup(
      Tables.fanOut(Tables.documents(s, d)).select("doc_id", "source", "n_chars"),
      Seq("source"), Seq("n_chars" -> false, "doc_id" -> true), k = 5)
      .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
  }
  val sourceCapSql: String =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5 ORDER BY source, n_chars DESC, doc_id""".stripMargin

  /** Document-frequency table — the IDF building block, kept to exact
    * counts (no cross-engine log()): per-token df over DISTINCT per-doc
    * tokens + the corpus share. Partial-aggregable, one shuffle of
    * (token, partial df) rows.
    */
  def docFreq(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(explode(array_distinct(TextOps.tokens(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .withColumn("df_ratio", col("df").cast("double") / col("n_docs"))
      .orderBy("token")
  }
  val docFreqSql: String =
    """WITH t AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS token
      |           FROM documents),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT token, count(*) AS df, n_docs,
      |  CAST(count(*) AS DOUBLE) / n_docs AS df_ratio
      |FROM t, n GROUP BY token, n_docs ORDER BY token""".stripMargin

  /** Vocabulary coverage / OOV rate — the tokenizer-coverage check a
    * pretraining pipeline runs before committing to a vocab: the corpus's
    * top-[[VocabSize]] tokens by frequency (count desc, token asc — a
    * total order, so the vocabulary boundary is deterministic on every
    * engine), then per document the token count and how many occurrences
    * fall OUTSIDE that vocabulary. All-integer output — no float anywhere.
    *
    * Scale shape: the vocab is top-k over partial-aggregated counts
    * (TakeOrderedAndProject, no global sort) and is bounded at
    * [[VocabSize]] rows → broadcast; the per-doc probe is then a map-side
    * hash lookup + partial-aggregable groupBy. The corpus shuffles once
    * (token counts) and never again.
    *
    * [[VocabSize]] = 16 keeps the boundary EXERCISED on the synthetic
    * corpus (31 distinct tokens — a production 30k+ vocab would make every
    * doc trivially in-vocabulary here); a real run passes its own size,
    * the plan is identical (the broadcast grows to vocab-file scale, still
    * megabytes).
    */
  val VocabSize = 16
  def vocabOov(s: SparkSession, d: String,
      vocabSize: Int = VocabSize): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1).otherwise(0)).as("n_oov"))
      .orderBy("doc_id")
  }
  val vocabOovSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |             FROM documents),
       |v AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM toks GROUP BY token
       |      ORDER BY cnt DESC, token LIMIT $VocabSize))
       |SELECT toks.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |FROM toks LEFT JOIN v ON toks.token = v.token
       |GROUP BY toks.doc_id ORDER BY doc_id""".stripMargin

  /** Smoothed bigram-LM scoring — the CCNet/KenLM-style perplexity filter,
    * self-trained: each document is scored by the add-1-smoothed negative
    * mean log-probability of its token bigrams under the corpus's own
    * bigram distribution. High xent = improbable text (gibberish, OCR
    * noise); unusually low = templated/repetitive. `n_rare` counts bigram
    * occurrences seen ≤ [[RareBigramMax]] times corpus-wide — the exact
    * integer cousin of the same signal. Documents with < 2 tokens score
    * NULL (no bigrams).
    *
    * Cross-engine float determinism: each bigram's ln() is rounded to 6 dp
    * and summed as DECIMAL — exact and order-independent, where a double
    * sum would vary with partitioning — then the mean is one double
    * division + round(4). Unconditional bigram probabilities (not
    * p(w2|w1)) keep it to one count table; the conditional form adds a
    * unigram join of the same shape.
    *
    * Scale shape: explode → partial-aggregated counts; the per-occurrence
    * probability lookup is a shuffle join on the bigram key (both sides
    * partial-aggregable; swap in a broadcast count-min sketch when the
    * distinct-bigram table outgrows the shuffle budget); one
    * partial-aggregable per-doc rollup on top.
    */
  val RareBigramMax = 2
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
    val bi = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", slice(col("toks"), i, lit(2)))))
        .otherwise(array().cast("array<string>"))).as("bg"))
    // bigram-NDV-sized, materialized once: `totals` and the occurrence
    // join both consume it, and unmaterialized each re-ran the corpus
    // tokenize+explode+groupBy (the knBigram/cumulatedHistogramOf lesson)
    val counts = bi.groupBy("bg").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val totals = counts.agg(sum("c").as("t"), count(lit(1)).as("v"))
    val scored = bi.join(counts, "bg").crossJoin(broadcast(totals))
      .withColumn("lp", round(log((col("c") + 1).cast("double") / (col("t") + col("v"))), 6)
        .cast("decimal(18,6)"))
    docs.select("doc_id").join(
        scored.groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"),
          sum(when(col("c") <= RareBigramMax, 1).otherwise(0)).as("n_rare"),
          round((-sum(col("lp")).cast("double")) / count(lit(1)), 4).as("xent")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        col("xent"))
      .orderBy("doc_id")
  }
  val bigramLmSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |bi AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
       |       FROM t CROSS JOIN UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
       |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY bg),
       |tv AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM c),
       |sc AS (SELECT doc_id, c.c,
       |         CAST(round(ln((c.c + 1)::DOUBLE / (tv.t + tv.v)), 6) AS DECIMAL(18,6)) AS lp
       |       FROM bi JOIN c USING (bg) CROSS JOIN tv),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |          CAST(sum(CASE WHEN c <= $RareBigramMax THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |          round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) AS xent
       |        FROM sc GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(agg.n_rare, 0) AS n_rare, agg.xent
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Interpolated Kneser–Ney bigram scoring — the smoothing KenLM actually
    * ships (Kneser & Ney 1995; Chen & Goodman 1998), next to the add-1
    * baseline of [[bigramLm]]: each document's cross-entropy under the
    * CONDITIONAL model
    * `P(w2|w1) = max(c(w1,w2)−D, 0)/c(w1·) + D·N1+(w1·)/c(w1·) · P_cont(w2)`
    * with the standard discount D = 0.75 and the continuation probability
    * `P_cont(w2) = N1+(·w2) / N1+(··)` — the "how many contexts has this
    * word followed" distribution that makes KN beat raw frequency on
    * high-count-single-context words ("Francisco"). The two LM scores
    * disagree exactly where KN's design says they should, which is the
    * point of carrying both on a curation board.
    *
    * Cross-engine float determinism: every count is an exact integer; the
    * probability is ONE double expression with identical association in
    * both engines (IEEE-determined), ln'd and rounded to 6 dp ONCE PER
    * DISTINCT BIGRAM TYPE, then per-doc sums run in DECIMAL(18,6) — the
    * [[bigramLm]] discipline. Documents with < 2 tokens score NULL.
    *
    * Scale shape: the three stat tables (left totals + following-type
    * counts per w1, continuation counts per w2, one global type count) are
    * all NDV-sized rollups OF the bigram count table, stitched onto it
    * NDV-side — so the token stream takes exactly ONE data-scale shuffle
    * join (occurrence → per-type lp, on the bigram key), then one
    * partial-aggregable per-doc rollup. At 100 TB the lp table swaps for
    * [[knBigramCms]]'s broadcast count-min sketches — the
    * `spark.graft.kn.cmsTypeCutover` HLL probe routes there automatically,
    * exactly like [[dsirSelect]]'s vocabulary cutover.
    */
  val KnDiscount = 0.75
  def knBigram(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
    val bi = knBigramOcc(docs)
    if (knUseCms(s, d, bi)) return knBigramCms(s, d)
    // bigram-type-NDV-sized, materialized ONCE: four stat rollups (left,
    // cont, tot, lp) consume it, and unmaterialized each re-ran the
    // corpus-scale tokenize+explode+groupBy (12 parquet scans in the
    // r18 before-plan; the cumulatedHistogramOf lesson)
    val cbg = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // NDV-sized stats OF the count table — no second pass over occurrences
    val left = cbg.groupBy("w1").agg(sum("c").as("cl"), count(lit(1)).as("n1l"))
    val cont = cbg.groupBy("w2").agg(count(lit(1)).as("n1r"))
    val tot = cbg.agg(count(lit(1)).as("n1tot"))
    val lp = cbg.join(left, "w1").join(cont, "w2").crossJoin(broadcast(tot))
      .withColumn("lp", round(log(
        (greatest(col("c") - lit(KnDiscount), lit(0.0)) +
          lit(KnDiscount) * col("n1l") * (col("n1r").cast("double") / col("n1tot"))) /
          col("cl")), 6).cast("decimal(18,6)"))
      .select("w1", "w2", "lp")
    docs.select("doc_id").join(
        bi.join(lp, Seq("w1", "w2")).groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"),
          round((-sum(col("lp")).cast("double")) / count(lit(1)), 4).as("xent_kn")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("xent_kn") + lit(0.0)).as("xent_kn"))
      .orderBy("doc_id")
  }
  /** The bigram occurrence stream `(doc_id, w1, w2)` both KN paths start
    * from — a map-only projection (tokenize + adjacent-pair explode).
    */
  private def knBigramOcc(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** The bigram-type cutover twin of [[dsirSelect]]'s `dsirUseCms`: when
    * the approximate distinct-bigram count exceeds
    * `spark.graft.kn.cmsTypeCutover` (default: off), the exact path's
    * occurrence⋈lp shuffle join outgrows the shuffle budget — switch to
    * the sketch path.
    *
    * COST: the probe is one FULL HLL pass over the occurrence stream,
    * paid PER [[knBigram]] INVOCATION whenever a cutover is configured —
    * partial-aggregable (map-side HLL merge, one tiny shuffle), so it is
    * a scan, not a join, but a scan nonetheless. Repeated calls in one
    * JVM therefore memoize the routing decision through a shared
    * [[MonotoneRouteCache]], keyed on (dir, cutover, LISTING FINGERPRINT)
    * — the fingerprint (the same 64-bit listing MD5 the rollup freshness
    * guard computes) is the data-identity component: under the engine's
    * append-via-rename ingest contract a corpus only grows, so once the
    * distinct-bigram count crosses the cutover it stays crossed FOR THAT
    * LISTING; a corpus REPLACED under the same path (a rebuilt bench dir,
    * reused test fixtures — `d` is an arbitrary caller-supplied path, not
    * a warehouse) changes the fingerprint, misses the memo, and re-probes
    * instead of silently staying on the sketch path after the data
    * shrank. Only the POSITIVE verdict is memoized, and why that
    * asymmetry matches the costs, is the cache's own scaladoc; the
    * fingerprint listing the memo pays per call is driver-side O(#files)
    * — noise against the corpus-scale HLL scan it avoids.
    */
  private[graft] val knRouteCache = new MonotoneRouteCache()
  private[graft] def knUseCms(s: SparkSession, d: String, bi: DataFrame): Boolean = {
    val cutover = s.conf.get("spark.graft.kn.cmsTypeCutover", "0").toLong
    cutover > 0 && {
      val fp = graft.plans.MaterializedRollup.dataFingerprint(s, s"$d/documents.parquet")
      knRouteCache.crossed((d, cutover, fp)) {
        bi.agg(approx_count_distinct(struct(col("w1"), col("w2"))).as("v"))
          .first().getLong(0) >= cutover
      }
    }
  }

  /** [[knBigram]]'s 100 TB path — the [[dsirSelectCms]] design applied to
    * the KN stat tables: ALL four per-occurrence lookups come from
    * broadcast count-min sketches probed map-side by the codegen'd
    * [[graft.catalyst.CmsEstimate]], so the occurrence stream is NEVER
    * shuffled on the bigram key. Two sketch-build passes replace the
    * exact path's occurrence⋈lp join:
    *
    *  1. over OCCURRENCES: `c(w1,w2)` (bigram counts, keyed `"w1 w2"` —
    *     tokens are whitespace-split so the space-joined key is
    *     collision-free) and `c(w1·)` (left totals, keyed w1);
    *  2. over the DISTINCT-TYPE table (one partial-aggregable distinct,
    *     NDV-sized after map-side combine — the same shuffle class as the
    *     exact path's count table): `N1+(w1·)` keyed w1, `N1+(·w2)` keyed
    *     w2 (a CMS fed one row per TYPE estimates a distinct-count the
    *     way one fed occurrences estimates a frequency), plus the exact
    *     scalar `N1+(··)`.
    *
    * Accuracy: CMS never under-counts, so every estimate shifts the
    * probability by at most eps·N mass in a direction the ln dampens; the
    * per-doc RANKING (the signal a curation board consumes) is pinned
    * ≥97% top-quartile-identical to the exact path in Round13OpsSpec.
    * Driver/broadcast state is four sketches, independent of vocabulary.
    */
  def knBigramCms(s: SparkSession, d: String,
      eps: Double = 0.0001, confidence: Double = 0.999): DataFrame = {
    import graft.catalyst.HashFunctions.cms_estimate
    val docs = Tables.fanOut(Tables.documents(s, d))
    // NOT checkpointed — corpus-sized; recompute beats materialize (the
    // dsirSelectCms rationale): tokenize is a projection, the scan is the cost
    val bi = knBigramOcc(docs)
    val occ = bi.agg(
      count_min_sketch(concat_ws(" ", col("w1"), col("w2")),
        lit(eps), lit(confidence), lit(42)).as("cms_bg"),
      count_min_sketch(col("w1"), lit(eps), lit(confidence), lit(42)).as("cms_l"))
      .first()
    val typ = bi.select("w1", "w2").distinct().agg(
      count_min_sketch(col("w1"), lit(eps), lit(confidence), lit(42)).as("cms_n1l"),
      count_min_sketch(col("w2"), lit(eps), lit(confidence), lit(42)).as("cms_n1r"),
      count(lit(1)).as("n1tot"))
      .first()
    val (bgB, lB) = (occ.getAs[Array[Byte]]("cms_bg"), occ.getAs[Array[Byte]]("cms_l"))
    val (n1lB, n1rB) = (typ.getAs[Array[Byte]]("cms_n1l"), typ.getAs[Array[Byte]]("cms_n1r"))
    val n1tot = typ.getAs[Long]("n1tot")
    // the exact path's formula with the SAME association, counts from probes
    val scored = bi.withColumn("lp", round(log(
      (greatest(cms_estimate(concat_ws(" ", col("w1"), col("w2")), bgB) - lit(KnDiscount),
        lit(0.0)) +
        lit(KnDiscount) * cms_estimate(col("w1"), n1lB) *
          (cms_estimate(col("w2"), n1rB).cast("double") / lit(n1tot))) /
        cms_estimate(col("w1"), lB)), 6).cast("decimal(18,6)"))
    docs.select("doc_id").join(
        scored.groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"),
          round((-sum(col("lp")).cast("double")) / count(lit(1)), 4).as("xent_kn")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("xent_kn") + lit(0.0)).as("xent_kn"))
      .orderBy("doc_id")
  }

  val knBigramSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |bi AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       |       FROM t CROSS JOIN UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
       |cbg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY w1, w2),
       |lft AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cl, CAST(count(*) AS BIGINT) AS n1l
       |        FROM cbg GROUP BY w1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM cbg GROUP BY w2),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM cbg),
       |lp AS (SELECT w1, w2,
       |    CAST(round(ln((greatest(c - $KnDiscount, 0.0)
       |      + $KnDiscount * n1l * (n1r::DOUBLE / n1tot)) / cl), 6) AS DECIMAL(18,6)) AS lp
       |  FROM cbg JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN tot),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |          round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) + 0.0 AS xent_kn
       |        FROM bi JOIN lp USING (w1, w2) GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams, agg.xent_kn
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): weighted
    * PageRank over the corpus token co-occurrence graph — nodes are
    * distinct tokens, an undirected edge weights how often two tokens
    * appear adjacent (window 2), and the stationary score ranks "which
    * terms the corpus is about" without any labeled data. Scores follow
    * the paper: init 1.0 per node, `WS(v) = (1−d) + d·Σ_u w(u,v)/wdeg(u)
    * ·WS(u)`, d = 0.85, a fixed [[TextRankIters]] synchronous rounds
    * (convergence not required — the fixed-round run is the oracle-able
    * object, the [[graft.operators.GraphOps.pagerank]] discipline). Output
    * is the global top-[[TextRankTopN]] terms by (score desc, term asc).
    *
    * Cross-engine determinism — the integer nano-space rule from
    * [[graft.operators.GraphOps]]: scores are BIGINT parts-per-billion;
    * each contribution does ONE double multiply-divide then rounds at
    * scale 0 (where Spark and DuckDB agree), and the per-node sum is exact
    * integer addition, partition-order-independent.
    *
    * Scale shape: the only data-scale pass is the adjacent-pair groupBy
    * (the [[knBigram]] count table); everything after is NDV-sized —
    * symmetrize, weighted degree, then [[TextRankIters]] rounds of one
    * broadcast join + one partial-aggregable groupBy each. The edge frame
    * is checkpointed once and never reshuffles. Beyond broadcast reach
    * (vocab > executor memory) drop the hints and hash-partition the edge
    * list by src once, reusing the partitioning every round.
    */
  val TextRankIters = 3
  val TextRankTopN = 50
  private val TrNano = 1000000000L // score unit: parts-per-billion
  def textrank(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
    val bi = docs.select(TextOps.tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .where(col("w1") =!= col("w2")) // no self-loops
    val cbg = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val e = cbg.select(col("w1").as("src"), col("w2").as("dst"), col("c"))
      .unionAll(cbg.select(col("w2").as("src"), col("w1").as("dst"), col("c")))
      .groupBy("src", "dst").agg(sum("c").as("w"))
    val wdeg = e.groupBy("src").agg(sum("w").as("wdeg"))
    val eDeg = e.join(broadcast(wdeg), "src").localCheckpoint(true)
    var rank = eDeg.select(col("src").as("term")).distinct()
      .withColumn("rank_ppb", lit(TrNano))
    for (_ <- 1 to TextRankIters) {
      rank = eDeg.join(broadcast(rank), eDeg("src") === rank("term"))
        .select(col("dst"),
          round(col("rank_ppb").cast("double") * col("w") / col("wdeg"))
            .cast("long").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("in_sum"))
        .select(col("dst").as("term"),
          round(lit(0.15) * TrNano + lit(0.85) * col("in_sum").cast("double"))
            .cast("long").as("rank_ppb"))
    }
    rank.orderBy(col("rank_ppb").desc, col("term")).limit(TextRankTopN)
  }
  val textrankSql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT e.dst AS term,
         |    CAST(round(CAST(0.15 AS DOUBLE) * $TrNano + CAST(0.85 AS DOUBLE) *
         |      CAST(sum(CAST(round(CAST(r.rank_ppb AS DOUBLE) * e.w / e.wdeg) AS BIGINT)) AS DOUBLE))
         |      AS BIGINT) AS rank_ppb
         |  FROM ed e JOIN $prev r ON e.src = r.term
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |bi AS (SELECT toks[i] AS w1, toks[i+1] AS w2
       |       FROM t CROSS JOIN UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
       |       WHERE toks[i] <> toks[i+1]),
       |cbg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY w1, w2),
       |e AS (SELECT src, dst, CAST(sum(c) AS BIGINT) AS w FROM (
       |        SELECT w1 AS src, w2 AS dst, c FROM cbg
       |        UNION ALL SELECT w2, w1, c FROM cbg)
       |      GROUP BY src, dst),
       |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, e.w, d.wdeg FROM e JOIN deg d ON e.src = d.src),
       |r0 AS (SELECT DISTINCT src AS term, CAST($TrNano AS BIGINT) AS rank_ppb FROM e),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT term, rank_ppb FROM r3 ORDER BY rank_ppb DESC, term LIMIT $TextRankTopN""".stripMargin
  }

  /** CCNet-style perplexity bucketing on top of [[bigramLm]]: the corpus is
    * cut into head / middle / tail terciles of LM cross-entropy (CCNet's
    * exact quality-tiering move, with the self-trained bigram LM standing in
    * for its KenLM), plus an `unscored` bucket for sub-2-token documents
    * the LM cannot score. Output is the per-bucket manifest a curation run
    * reads: doc count, total characters, and the xent range each bucket
    * spans.
    *
    * Scale shape — three bounded pieces on top of the LM scores:
    * (1) xent is mapped to integer ten-thousandths (`xe4`, exact for a
    * round-4 double), so the cutoffs are EXACT discrete order statistics
    * k=⌈n/3⌉ and ⌈2n/3⌉ read off [[AnalyticsQueries.globalCumHistogram]] —
    * the NDV-sized construction with bounded-self-join offsets, never a
    * data-scale window and never a `percentile()` buffer; (2) the one-row cutoff frame is
    * broadcast into a pure projection that assigns buckets by comparison
    * (no rank join); (3) the manifest rollup is partial-aggregable. Ties at
    * a cutoff all land in the lower bucket — a deterministic total
    * function of the value, so both engines agree without a tie-break.
    * The scored frame is localCheckpoint'd (it feeds the histogram AND the
    * assignment; at cluster scale: persist(MEMORY_AND_DISK), same intent).
    */
  def pplBucket(s: SparkSession, d: String): DataFrame = {
    val scored = bigramLm(s, d)
      .join(Tables.documents(s, d).select("doc_id", "n_chars"), Seq("doc_id"))
      .select(col("doc_id"), col("n_chars"),
        when(col("xent").isNotNull, round(col("xent") * 10000).cast("long")).as("xe4"))
      .localCheckpoint(true)
    val cuts = AnalyticsQueries.globalCumHistogram(
        scored.filter(col("xe4").isNotNull).select("xe4"), "xe4")
      .withColumn("k1", expr("(n + 2) div 3"))
      .withColumn("k2", expr("(2 * n + 2) div 3"))
      .agg(
        sum(when(col("k1").between(col("lo"), col("hi")), col("xe4"))).as("c1"),
        sum(when(col("k2").between(col("lo"), col("hi")), col("xe4"))).as("c2"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("xe4").isNull, lit("unscored"))
          .when(col("xe4") <= col("c1"), lit("head"))
          .when(col("xe4") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("tot_chars"),
        min("xe4").as("min_xe4"),
        max("xe4").as("max_xe4"))
      .orderBy("bucket")
  }

  /** Oracle replays the cutoffs as a row_number scan over the scored docs —
    * rank-k VALUES are tie-order-independent, so the arbitrary tie order of
    * `row_number` cannot desync it from the histogram's order statistics.
    */
  lazy val pplBucketSql: String =
    s"""WITH lmq AS (SELECT doc_id, xent FROM ($bigramLmSql)),
       |s AS (SELECT d.doc_id, d.n_chars, CAST(round(l.xent * 10000) AS BIGINT) AS xe4
       |      FROM documents d JOIN lmq l ON d.doc_id = l.doc_id),
       |r AS (SELECT xe4, row_number() OVER (ORDER BY xe4) AS rn, count(*) OVER () AS n
       |      FROM s WHERE xe4 IS NOT NULL),
       |cut AS (SELECT CAST(min(CASE WHEN rn = (n + 2) // 3 THEN xe4 END) AS BIGINT) AS c1,
       |               CAST(min(CASE WHEN rn = (2 * n + 2) // 3 THEN xe4 END) AS BIGINT) AS c2
       |        FROM r),
       |b AS (SELECT CASE WHEN xe4 IS NULL THEN 'unscored'
       |                  WHEN xe4 <= cut.c1 THEN 'head'
       |                  WHEN xe4 <= cut.c2 THEN 'middle'
       |                  ELSE 'tail' END AS bucket, n_chars, xe4
       |      FROM s CROSS JOIN cut)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS tot_chars,
       |  CAST(min(xe4) AS BIGINT) AS min_xe4, CAST(max(xe4) AS BIGINT) AS max_xe4
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): each
    * document is scored by the mean unigram log-likelihood RATIO between a
    * target-domain LM and the raw-corpus LM — here the English subset
    * stands in for the target domain and the whole corpus for the raw
    * source, both add-1-smoothed over the corpus vocabulary. Positive
    * `llr` = looks like the target; the top quartile by value (cutoff
    * inclusive, so ties at the cutoff are all kept) is flagged `selected`
    * — the importance-selection step that decides what a pretraining run
    * actually ingests.
    *
    * Determinism discipline (the [[bigramLm]] rules): each ln() is rounded
    * to 6 dp and the per-token difference carried as DECIMAL — exact and
    * partition-order-independent — then one double divide + round(4) per
    * doc. The quartile cutoff is an EXACT discrete order statistic of the
    * integer ten-thousandths via [[AnalyticsQueries.globalCumHistogram]]
    * (truncating `div` keeps the value→bucket map monotone for negative
    * llr too, so the construction holds on mixed-sign scores).
    *
    * Scale shape: two partial-aggregable count tables (target, corpus) +
    * one shuffle join of token occurrences on the token key (both count
    * sides partial-aggregable). When the vocabulary outgrows the shuffle
    * budget — `spark.graft.dsir.cmsVocabCutover`, checked with one HLL
    * pass — the whole count join is replaced by [[dsirSelectCms]]'s two
    * broadcast count-min sketches probed map-side (zero token-key
    * shuffle). Then a partial-aggregable per-doc rollup, an NDV-sized
    * cutoff histogram, and a one-row broadcast. No data-scale window, no
    * collect.
    */
  def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val toks = dsirTokens(s, d)
    if (dsirUseCms(s, d, toks)) return dsirSelectCms(s, d)
    dsirSelectExact(toks)
  }

  /** [[dsirSelect]]'s exact path over a caller-supplied tokenized frame —
    * the funnel's entry point (it shares one checkpointed tokenize pass
    * across stages).
    */
  private[graft] def dsirSelectOver(tokDocs: DataFrame): DataFrame =
    dsirSelectExact(tokenOccurrences(tokDocs))

  private def dsirSelectExact(toks: DataFrame): DataFrame = {
    val cs = toks.groupBy("w").agg(count(lit(1)).as("cs"))
    val ct = toks.filter(col("lang") === "en").groupBy("w").agg(count(lit(1)).as("ct"))
    val tot = cs.agg(sum("cs").as("ts"), count(lit(1)).as("v"))
      .crossJoin(ct.agg(coalesce(sum("ct"), lit(0L)).as("tt")))
    val scored = toks
      .join(cs, Seq("w"))
      .join(ct, Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        dsirLp6(coalesce(col("ct"), lit(0L)) + 1, col("tt") + col("v")) -
          dsirLp6(col("cs") + 1, col("ts") + col("v")))
    dsirTopQuartile(scored)
  }

  /** The shared DSIR token stream (one row per token occurrence). */
  private def dsirTokens(s: SparkSession, d: String): DataFrame =
    tokenOccurrences(tokenizedDocs(s, d))

  /** `(doc_id, lang, toks)` — the tokenize pass both [[dsirSelect]] and
    * [[contamination]] start from. [[curationFunnel]] localCheckpoints ONE
    * of these and feeds it to both stages through their `Over` variants,
    * so the funnel pays the tokenize projection once instead of twice.
    */
  private[graft] def tokenizedDocs(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))

  private def tokenOccurrences(tokDocs: DataFrame): DataFrame =
    tokDocs.select(col("doc_id"), col("lang"), explode(col("toks")).as("w"))

  /** Round-6 add-1-smoothed log-probability term, carried as DECIMAL. */
  private def dsirLp6(c: Column, t: Column): Column =
    round(log(c.cast("double") / t.cast("double")), 6).cast(DecimalType(18, 6))

  /** Shared completion of both DSIR paths: per-doc mean-LLR rollup off the
    * `lp` column, exact top-quartile cutoff from the cumulated histogram,
    * selection flags. Identical math in both paths — only where the
    * per-token counts come from differs.
    */
  private def dsirTopQuartile(scoredToks: DataFrame): DataFrame = {
    val scored = scoredToks
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        NumOps.roundz(sum("lp").cast("double") / count(lit(1)), 4).as("llr"))
      .withColumn("e4", round(col("llr") * 10000).cast("long"))
      .localCheckpoint(true) // feeds the cutoff histogram AND the output
    val cut = AnalyticsQueries.globalCumHistogram(scored.select("e4"), "e4")
      .withColumn("k75", expr("(3 * n + 3) div 4"))
      .agg(sum(when(col("k75").between(col("lo"), col("hi")), col("e4"))).as("c75"))
    scored.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("n_toks"), col("llr"),
        (col("e4") >= col("c75")).as("selected"))
      .orderBy("doc_id")
  }

  /** The vocabulary-size cutover: when the approximate distinct-token count
    * exceeds `spark.graft.dsir.cmsVocabCutover` (default: off), the
    * count-join path would shuffle the full token stream against a count
    * table too large to broadcast exactly — switch to the sketch path. The
    * probe is HLL (one partial-aggregable pass, ±5%), paid per invocation
    * while the corpus sits below the cutover; the POSITIVE verdict is
    * memoized through the shared [[MonotoneRouteCache]], keyed on (dir,
    * cutover, listing fingerprint) exactly like [[knUseCms]] and for the
    * same reasons — monotone under append-only ingest, re-probed when the
    * corpus is replaced under the same path (see the kn twin's scaladoc
    * for the full argument).
    */
  private[graft] val dsirRouteCache = new MonotoneRouteCache()
  private[graft] def dsirUseCms(s: SparkSession, d: String, toks: DataFrame): Boolean = {
    val cutover = s.conf.get("spark.graft.dsir.cmsVocabCutover", "0").toLong
    cutover > 0 && {
      val fp = graft.plans.MaterializedRollup.dataFingerprint(s, s"$d/documents.parquet")
      dsirRouteCache.crossed((d, cutover, fp)) {
        toks.agg(approx_count_distinct("w").as("v")).first().getLong(0) >= cutover
      }
    }
  }

  /** The DSIR scale path the exact-join variant's scaladoc promises: both
    * unigram count tables live in ONE broadcast count-min sketch each
    * (built by Spark's `count_min_sketch` aggregate in a single pass with
    * the exact totals), and every token occurrence probes them map-side
    * via the codegen'd [[graft.catalyst.CmsEstimate]] — NO data-scale
    * shuffle on the token key at all; the only shuffle left is the per-doc
    * rollup, which is partial-aggregable. CMS never under-counts, so
    * smoothed probabilities shift by at most eps·N mass; with the default
    * eps the estimate is exact until the vocabulary is genuinely huge, and
    * the top-quartile SELECTION (a rank statistic, stable under small
    * monotone perturbations) is pinned ≥97% identical to the exact path in
    * Round11OpsSpec. Driver/broadcast state is the two sketches
    * (width ⌈e/eps⌉ × depth ⌈ln(1/δ)⌉ longs — ~2.7k columns at the default,
    * independent of vocabulary size).
    */
  def dsirSelectCms(s: SparkSession, d: String,
      eps: Double = 0.0001, confidence: Double = 0.999): DataFrame = {
    import graft.catalyst.HashFunctions.cms_estimate
    // deliberately NOT checkpointed: the token stream is corpus-sized —
    // materializing it would cost more than the two deterministic
    // recomputes (build pass + probe pass), and at 100 TB it could not be
    // pinned at all. Tokenize is a projection; the scan is the cost.
    val toks = dsirTokens(s, d)
    val agg = toks.agg(
      count_min_sketch(col("w"), lit(eps), lit(confidence), lit(42)).as("cms_s"),
      count_min_sketch(when(col("lang") === "en", col("w")), lit(eps),
        lit(confidence), lit(42)).as("cms_t"),
      count(lit(1)).as("ts"),
      count(when(col("lang") === "en", lit(1))).as("tt"),
      count_distinct(col("w")).as("v")).first()
    val (csBytes, ctBytes) = (agg.getAs[Array[Byte]]("cms_s"), agg.getAs[Array[Byte]]("cms_t"))
    val (tsv, ttv, vv) = (agg.getAs[Long]("ts"), agg.getAs[Long]("tt"), agg.getAs[Long]("v"))
    val scored = toks.withColumn("lp",
      dsirLp6(cms_estimate(col("w"), ctBytes) + 1, lit(ttv + vv)) -
        dsirLp6(cms_estimate(col("w"), csBytes) + 1, lit(tsv + vv)))
    dsirTopQuartile(scored)
  }
  val dsirSelectSql: String =
    """WITH tk AS (SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |            FROM documents),
      |cs AS (SELECT w, CAST(count(*) AS BIGINT) AS cs FROM tk GROUP BY w),
      |ct AS (SELECT w, CAST(count(*) AS BIGINT) AS ct FROM tk WHERE lang = 'en' GROUP BY w),
      |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ts, CAST(count(*) AS BIGINT) AS v,
      |          CAST((SELECT COALESCE(sum(ct), 0) FROM ct) AS BIGINT) AS tt FROM cs),
      |sc AS (SELECT tk.doc_id,
      |    CAST(round(ln((COALESCE(ct.ct, 0) + 1)::DOUBLE / (tot.tt + tot.v)), 6) AS DECIMAL(18,6))
      |  - CAST(round(ln((cs.cs + 1)::DOUBLE / (tot.ts + tot.v)), 6) AS DECIMAL(18,6)) AS lp
      |  FROM tk JOIN cs USING (w) LEFT JOIN ct USING (w) CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |          round(CAST(sum(lp) AS DOUBLE) / count(*), 4) + 0.0 AS llr
      |        FROM sc GROUP BY doc_id),
      |e AS (SELECT doc_id, n_toks, llr, CAST(round(llr * 10000) AS BIGINT) AS e4 FROM agg),
      |r AS (SELECT e4, row_number() OVER (ORDER BY e4) AS rn, count(*) OVER () AS n FROM e),
      |cut AS (SELECT min(CASE WHEN rn = (3 * n + 3) // 4 THEN e4 END) AS c75 FROM r)
      |SELECT doc_id, n_toks, llr, e4 >= cut.c75 AS selected
      |FROM e CROSS JOIN cut ORDER BY doc_id""".stripMargin

  /** The curation funnel, end to end — the capstone composition: the
    * corpus flows through exact dedup (min doc_id survives each
    * normalized-content group), the frozen quality model
    * ([[graft.operators.QualityClassifier]], `zr > KeepTau`),
    * decontamination (benchmark docs AND anything sharing ≥3 shingles with
    * one — eval data must not train), and DSIR importance selection
    * ([[dsirSelect]]), reporting survivors and cumulative drops per stage
    * — the one-page report a curation run publishes.
    *
    * Every stage is one of this library's oracled operators; the funnel
    * chains their doc_id sets with semi/anti joins and counts. The final
    * count table is FIVE rows, stitched with a bounded self-join on the
    * stage index (no window). Cost is the sum of its stages by
    * construction — this query IS the pipeline, run once.
    */
  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    import graft.operators.QualityClassifier
    val docs = Tables.fanOut(Tables.documents(s, d))
    val s0 = docs.select("doc_id")
    // NOTE (r18, measured): do NOT checkpoint the stage id-sets. The
    // five-way counts union below evaluates in ONE job whose identical
    // stage subtrees are deduplicated by ReuseExchange AND scheduled
    // concurrently across the cores; materializing s1/s2/s3 serially
    // benched 4.13 -> ~5.8 s at sf0.1 (serial checkpoint jobs, idle
    // cores). The prefix-recompute this looks like is already shared.
    val s1 = docs
      .select(col("doc_id"), md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val q = QualityClassifier.frozenScores(docs)
      .filter(col("zr") > QualityClassifier.KeepTau)
    val s2 = s1.join(q.select("doc_id"), Seq("doc_id"), "left_semi")
    // ONE tokenize pass feeds decontamination AND DSIR (round-11 sharing:
    // previously each stage re-ran the tokenize projection over the corpus)
    val tokDocs = tokenizedDocs(s, d).localCheckpoint(true)
    // OVERLAP the two independent component materializations (r19, guide
    // §2.6 "overlap independent jobs"): contaminationOver and
    // dsirSelectOver each run eager NDV-sized checkpoints internally
    // (shingle table / scored rollup) whose jobs otherwise serialize at
    // plan-construction time, idling the box between their small stages.
    // Both derive only from the already-materialized tokDocs, so they
    // share no mutable state; Spark's scheduler runs concurrent jobs
    // FIFO and back-fills the tail (actions are only sequential because
    // driver code calls them sequentially).
    val (cont, dsel) = graft.Overlap.both(s)(
      contaminationOver(tokDocs),
      dsirSelectOver(tokDocs).filter(col("selected")).select("doc_id"))
    // ONE flag pass instead of five stage-count aggregations, and (r19)
    // ONE exchange instead of four doc-id join exchanges: every stage set
    // is a subset of the corpus ids, so a union of TAGGED ids followed by
    // a single groupBy(doc_id) flag fold reaches the same per-doc flags
    // as the r18 four-way left join (guide §2.4 — five map sides into one
    // exchange, partial aggregation per branch) while each pipeline
    // component (md5 dedup, quality scores, decontamination, DSIR) is
    // still evaluated exactly once. The union form also needs no
    // distinct() on the drop set (duplicate tags fold to the same flag),
    // dropping that exchange too. Stage semantics unchanged:
    // s2 = s1 ∩ q, s3 = s2 \ drop, s4 = s3 ∩ dsel.
    val tagged = s0.withColumn("tag", lit(0))
      .union(s1.withColumn("tag", lit(1)))
      .union(q.select("doc_id").withColumn("tag", lit(2)))
      .union(cont.select(col("corpus_id").as("doc_id"))
        .withColumn("tag", lit(3)))
      .union(docs.filter(col("doc_id") % 50 === 0).select("doc_id")
        .withColumn("tag", lit(3)))
      .union(dsel.withColumn("tag", lit(4)))
    val flags = tagged.groupBy("doc_id").agg(
      max(col("tag") === 1).as("f1"),
      max(col("tag") === 2).as("fq"),
      max(col("tag") === 3).as("fd"),
      max(col("tag") === 4).as("fs"))
    val one = flags.agg(
      count(lit(1)).as("n0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("f1") && col("fq"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("f1") && col("fq") && !col("fd"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("f1") && col("fq") && !col("fd") && col("fs"), 1L)
        .otherwise(0L)).as("n4"))
    one.select(expr(
      "stack(5, '0_corpus', n0, cast(null as bigint), " +
        "'1_exact_dedup', n1, n0, '2_quality', n2, n1, " +
        "'3_decontaminate', n3, n2, '4_dsir_select', n4, n3) " +
        "AS (stage, n_docs, n_prev)"))
      .select(col("stage"), col("n_docs"),
        coalesce(col("n_prev") - col("n_docs"), lit(0L)).as("n_dropped"))
      .orderBy("stage")
  }

  /** Oracle composes the stages' own oracle SQL (`lazy`: quotes vals
    * declared elsewhere in this object). */
  lazy val curationFunnelSql: String =
    s"""WITH s1 AS (SELECT min(doc_id) AS doc_id FROM
       |    (SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS h
       |     FROM documents) GROUP BY h),
       |q AS (
       |${graft.operators.QualityClassifier.zrSql("doc_id")}),
       |s2 AS (SELECT s1.doc_id FROM s1 JOIN q USING (doc_id) WHERE zr > 0.45),
       |cont AS (SELECT DISTINCT corpus_id AS doc_id FROM ($contaminationSql)
       |         UNION SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
       |s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |dsel AS (SELECT doc_id FROM ($dsirSelectSql) WHERE selected),
       |s4 AS (SELECT s3.doc_id FROM s3 JOIN dsel USING (doc_id)),
       |c AS (
       |  SELECT 0 AS idx, '0_corpus' AS stage, count(*) AS n FROM documents
       |  UNION ALL SELECT 1, '1_exact_dedup', count(*) FROM s1
       |  UNION ALL SELECT 2, '2_quality', count(*) FROM s2
       |  UNION ALL SELECT 3, '3_decontaminate', count(*) FROM s3
       |  UNION ALL SELECT 4, '4_dsir_select', count(*) FROM s4)
       |SELECT c.stage, CAST(c.n AS BIGINT) AS n_docs,
       |  CAST(COALESCE(p.n - c.n, 0) AS BIGINT) AS n_dropped
       |FROM c LEFT JOIN c p ON p.idx = c.idx - 1
       |ORDER BY c.stage""".stripMargin

  /** PII scrubbing: emails then digit runs replaced; output a stable
    * signature (md5 + length) instead of the full scrubbed text. Pure
    * projection — no shuffle, scales linearly.
    */
  def piiScrub(s: SparkSession, d: String): DataFrame =
    // sort first on the key, scrub after: the regex chain runs once
    // post-shuffle instead of also being evaluated by the sort's sampler
    Tables.fanOut(Tables.documents(s, d).select("doc_id", "text"))
      .orderBy("doc_id")
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
          "[0-9]+", "<NUM>").as("scrub"))
      .select(col("doc_id"), md5(col("scrub")).as("scrub_sig"),
        length(col("scrub")).as("scrub_len"))
  val piiScrubSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g')) AS scrub_sig,
      |  CAST(length(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g')) AS INT) AS scrub_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination check: corpus documents sharing ≥3 distinct
    * 3-gram shingles with any "benchmark" document (stand-in set:
    * doc_id % 50 = 0). The shingle-join is the contamination shape used on
    * real eval sets; at scale the benchmark side is tiny and broadcast.
    */
  def contamination(s: SparkSession, d: String): DataFrame =
    contaminationOver(tokenizedDocs(s, d))

  /** [[contamination]] over a caller-supplied tokenized frame — the
    * funnel's entry point (shared tokenize pass with [[dsirSelectOver]]).
    */
  private[graft] def contaminationOver(tokDocs: DataFrame): DataFrame = {
    // materialized once — the benchmark and corpus sides both derive from
    // this shingle table; without the checkpoint each side re-runs the
    // tokenize→shingle→distinct pipeline
    val sh = tokDocs
      .select(col("doc_id"),
        explode(graft.catalyst.HashFunctions.shingles3(col("toks"))).as("s"))
      .distinct()
      .localCheckpoint(true)
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("s"))
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("corpus_id"), col("s"))
    corpus.join(broadcast(bench), Seq("s"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("corpus_id", "bench_id")
  }
  val contaminationSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3)),
      |b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0),
      |c AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 50 <> 0)
      |SELECT corpus_id, bench_id, count(*) AS n_shared
      |FROM c JOIN b USING (s) GROUP BY 1, 2 HAVING count(*) >= 3
      |ORDER BY corpus_id, bench_id""".stripMargin

  /** Fuzzy near-match via blocked Levenshtein: candidate pairs share
    * (lang, n_chars ÷ 16) — a cheap deterministic blocking key — and are
    * scored on their 60-char prefixes. Length-BUCKET blocking rather than
    * exact length: edits change length, so exact-length blocking misses
    * the near-duplicates the operator exists to find (and at sf0.01 found
    * NOTHING — a vacuously-green 0-row oracle, r13 "What's missing" #4;
    * the bucketed key yields real matches at every test SF, and
    * Round14OpsSpec pins the exact match set on a seeded micro-corpus).
    * The block join caps the quadratic term the way real fuzzy-dedup
    * blocks (sorted-neighborhood / LSH) do at scale; boundary-straddling
    * pairs are the documented recall tradeoff every blocking scheme makes
    * (production runs would add the ±1-bucket pass).
    */
  def levFuzzy(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        floor(col("n_chars") / 16).as("len_bkt"),
        substring(col("text"), 1, 60).as("pfx"))
    val a = doc.select(col("doc_id").as("a_id"), col("lang"), col("len_bkt"),
      col("pfx").as("pa"))
    val b = doc.select(col("doc_id").as("b_id"), col("lang"), col("len_bkt"),
      col("pfx").as("pb"))
    a.join(b, Seq("lang", "len_bkt")).filter(col("a_id") < col("b_id"))
      .withColumn("lev", levenshtein(col("pa"), col("pb")))
      .filter(col("lev") <= 30)
      .select("a_id", "b_id", "lev")
      .orderBy("a_id", "b_id")
  }
  val levFuzzySql: String =
    """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS INT) AS lev
      |FROM documents a JOIN documents b
      |  ON a.lang = b.lang AND a.n_chars // 16 = b.n_chars // 16 AND a.doc_id < b.doc_id
      |WHERE levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) <= 30
      |ORDER BY a_id, b_id""".stripMargin

  /** Fuzzy name matching via blocked Jaro–Winkler: candidate pairs share
    * `p_brand` (the blocking key caps the quadratic term — ~|part|²/25
    * comparisons, each a compiled [[graft.catalyst.JaroWinkler]] call
    * inside whole-stage codegen), scored byte-identically to DuckDB's
    * `jaro_winkler_similarity`. The record-linkage / entity-resolution
    * shape: at 100 TB the blocking key would be a sorted-neighborhood or
    * phonetic key, but the join geometry is the same.
    */
  def jwFuzzy(s: SparkSession, d: String): DataFrame = {
    import graft.catalyst.HashFunctions.jaro_winkler
    val p = Tables.fanOut(Tables.part(s, d))
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    val a = p.select(col("p_partkey").as("a_id"), col("p_brand"), col("p_name").as("na"))
    val b = p.select(col("p_partkey").as("b_id"), col("p_brand"), col("p_name").as("nb"))
    a.join(b, Seq("p_brand")).filter(col("a_id") < col("b_id"))
      .withColumn("jw", jaro_winkler(col("na"), col("nb")))
      .filter(col("jw") >= 0.92)
      .select(col("a_id"), col("b_id"), round(col("jw"), 6).as("jw"))
      .orderBy("a_id", "b_id")
  }
  val jwFuzzySql: String =
    """SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
      |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.92
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------------
  // Deterministic splits / sampling / balancing
  // ---------------------------------------------------------------------

  /** Deterministic train/test split on a hash of the stable key: two hex
    * chars of md5(doc_id) → v ∈ [0, 256); v < 205 ≈ 80% train. The split is
    * reproducible under re-runs, repartitions and appends — the property
    * random() sampling loses — and pure projection + one tiny agg.
    */
  def trainSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("m", md5(col("doc_id").cast("string")))
      .withColumn("v",
        expr("(instr('0123456789abcdef', substring(m, 31, 1)) - 1) * 16 + " +
          "instr('0123456789abcdef', substring(m, 32, 1)) - 1"))
      .withColumn("split", when(col("v") < 205, "train").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars").cast("long")).as("total_chars"))
      .orderBy("split")
  val trainSplitSql: String =
    """WITH v AS (SELECT n_chars,
      |  (instr('0123456789abcdef', substring(md5(doc_id::VARCHAR), 31, 1)) - 1) * 16 +
      |   instr('0123456789abcdef', substring(md5(doc_id::VARCHAR), 32, 1)) - 1 AS v
      |  FROM documents)
      |SELECT CASE WHEN v < 205 THEN 'train' ELSE 'test' END AS split,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM v GROUP BY 1 ORDER BY split""".stripMargin

  /** Source-mixture sampling — the data-mixing step of a training corpus
    * (each source kept at its own rate, e.g. up-weighted wiki, down-weighted
    * web crawl): deterministic per-doc byte from md5(doc_id), per-source
    * keep-threshold in 0..256 space (no float rounding anywhere), so the
    * sample is reproducible row-for-row on any engine. Map-side filter +
    * one partial-aggregated groupBy — the 100 TB mixing shape.
    */
  /** Exact floor division for the full long domain: `(c - pmod(c, n)) div n`.
    * `(col / n).cast("long")` goes through DOUBLE (wrong above 2^53) and
    * truncates toward zero (merges blocks -0/0 for negative keys); plain
    * `div` also truncates toward zero. Subtracting the non-negative `pmod`
    * first makes the dividend an exact multiple, so `div` IS floor. */
  private def floorDiv(c: String, n: Int): Column =
    expr(s"($c - pmod($c, $n)) div $n")

  /** Exclusive prefix sum of `value` ordered by `key` (both integral),
    * returned as (`key`, `off`) — the distributed prefix-sum recursion:
    * while the level still holds more than `maxWindowRows` rows, block the
    * keys (`key div blockSize`), compute the within-block prefix with a
    * window PARTITIONED BY BLOCK (fully parallel), and recurse on the
    * per-block totals — a frame `blockSize`× smaller. The recursion bottoms
    * out in a global window over ≤ `maxWindowRows` rows, a bounded constant
    * (never data-scale) by construction; depth is log_blockSize(n).
    *
    * `nKeysBound` is a caller-supplied UPPER BOUND on `df`'s distinct-key
    * count, used only to pick the plan shape — passing a bound instead of
    * calling `df.count()` here means plan construction never executes the
    * (possibly expensive) upstream pipeline; an over-estimate merely adds
    * a recursion level over an already-small frame. The bound MUST be
    * KEY-RANGE-derived ((maxKey − minKey) / blockSize^level + 1, as
    * [[blockCountBound]] computes), because the recursion divides it by
    * `blockSize` per level and only a range bound stays valid under floor
    * division — a ROW count does not: with sparse keys (every block
    * holding one row) dividing it undercounts the next level, and the
    * "bounded" terminal window would silently run over a data-scale frame.
    * Each level's offset frame is broadcast to the join when its bound
    * fits `maxWindowRows` (the totals of a data-scale level can be large —
    * those join by shuffle and AQE may still elect a broadcast at runtime).
    *
    * Each level adds a window + join to the plan, so recursion depth IS
    * plan depth: parameters that would need more than [[MaxPrefixLevels]]
    * levels (e.g. `blockSize=4` over the full long domain → 26) produce
    * plans Catalyst cannot optimize within driver memory. Such calls fail
    * fast with the level count and a fix (raise `blockSize` /
    * `maxWindowRows`) instead of an optimizer OOM. The default
    * `blockSize=64` needs ≤ 9 levels even for keys spanning the entire
    * long domain, so the cap never binds a realistic call.
    */
  private[graft] val MaxPrefixLevels = 12
  private def prefixLevels(bound: Long, blockSize: Int, maxWindowRows: Long): Int = {
    var b = bound; var d = 1
    while (b > maxWindowRows && d <= MaxPrefixLevels) {
      b = (b + blockSize - 1) / blockSize; d += 1
    }
    d
  }
  private[graft] def exclusivePrefix(df: DataFrame, key: String, value: String,
      blockSize: Int, maxWindowRows: Long, nKeysBound: Long,
      depth: Int = 1): DataFrame = {
    if (depth == 1) {
      val lv = prefixLevels(nKeysBound, blockSize, maxWindowRows)
      require(lv <= MaxPrefixLevels,
        s"exclusivePrefix: key range / blockSize=$blockSize needs > " +
          s"$MaxPrefixLevels recursion levels (bound=$nKeysBound, " +
          s"maxWindowRows=$maxWindowRows); raise blockSize or maxWindowRows " +
          "so the plan stays optimizable")
    }
    if (nKeysBound <= maxWindowRows) {
      val w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
      df.select(col(key), coalesce(sum(value).over(w), lit(0L)).as("off"))
    } else {
      val b = s"_blk$depth" // per-level name: the recursed key IS a block id
      val t = df.withColumn(b, floorDiv(key, blockSize))
      val wIn = Window.partitionBy(b).orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
      val inBlk = t.withColumn("_in_off", coalesce(sum(value).over(wIn), lit(0L)))
      val totals = t.groupBy(b).agg(sum(value).cast("long").as("_bt"))
      val totalsBound = (nKeysBound + blockSize - 1) / blockSize
      val blkOff = exclusivePrefix(totals, b, "_bt", blockSize, maxWindowRows,
        totalsBound, depth + 1).withColumnRenamed("off", "_blk_off")
      val joined = inBlk.join(
        if (totalsBound <= maxWindowRows) broadcast(blkOff) else blkOff, b)
      joined.select(col(key), (col("_blk_off") + col("_in_off")).as("off"))
    }
  }

  /** Sequence packing — the concat-and-chunk shape every pretraining
    * pipeline runs: documents are laid end-to-end in doc_id order and cut
    * into fixed `seqLen`-token training sequences; each document reports
    * its global token offset and the sequence ids it spans.
    *
    * The global running sum is computed scale-safe, NOT with a
    * single-partition window: docs are grouped into fixed blocks
    * (`doc_id div blockSize`), a window partitioned BY BLOCK computes the
    * within-block cumulative sum (data-scale work, fully parallel), and the
    * per-block totals feed [[exclusivePrefix]], which RECURSES the same
    * construction while a level still exceeds `maxWindowRows` rows — the
    * terminal global window runs over a bounded constant, never over data.
    * The level count is chosen from the doc_id RANGE (footer min/max,
    * memoized — see [[blockCountBound]]), so planning never tokenizes the
    * corpus and the bound holds for sparse ids.
    * The bucketed RANGE rewrite above ([[windowRangeScaled]]) is this
    * pattern's value-domain sibling.
    */
  /** Upper bound on the distinct `doc_id div blockSize` count, derived from
    * the doc_id RANGE (one min/max aggregate — parquet footer stats under
    * `spark.sql.parquet.aggregatePushdown`), memoized per (dir, blockSize).
    * A range bound — unlike a row count — stays valid under further floor
    * division, which is what lets [[exclusivePrefix]] divide it per
    * recursion level even when doc_ids are sparse (each block holding one
    * doc). Memoization keeps query CONSTRUCTION free of Spark jobs after
    * the first call per directory (the bench constructs the frame once per
    * repeat).
    */
  private val blockBoundCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Long]()
  private def blockCountBound(s: SparkSession, d: String, blockSize: Int): Long =
    blockBoundCache.computeIfAbsent((d, blockSize), _ => {
      val r = Tables.documents(s, d)
        .agg(min("doc_id").as("lo"), max("doc_id").as("hi")).first()
      if (r.isNullAt(0)) 0L
      else Math.floorDiv(r.getLong(1), blockSize) -
        Math.floorDiv(r.getLong(0), blockSize) + 1L
    })

  def sequencePack(s: SparkSession, d: String, seqLen: Int = 512,
      blockSize: Int = 64, maxWindowRows: Long = 1L << 20): DataFrame = {
    val t = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        floorDiv("doc_id", blockSize).as("blk"))
      // three longs/row, materialized once: the within-block window AND
      // the per-block totals otherwise each re-ran the tokenize-count
      // projection over the corpus (4 parquet scans in the r18 before-plan)
      .localCheckpoint(true)
    // level 1: within-block exclusive prefix (window partitioned by block)
    val wIn = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBlk = t.withColumn("in_off", coalesce(sum("n_tokens").over(wIn), lit(0L)))
    // levels 2..k: recursive exclusive prefix over per-block totals
    val nBlocks = blockCountBound(s, d, blockSize)
    val blkOff = exclusivePrefix(t.groupBy("blk").agg(sum("n_tokens").as("bt")),
        "blk", "bt", blockSize, maxWindowRows, nBlocks)
      .withColumnRenamed("off", "blk_off")
    inBlk.join(if (nBlocks <= maxWindowRows) broadcast(blkOff) else blkOff, "blk")
      .withColumn("global_offset", col("blk_off") + col("in_off"))
      // integer `div`, not floor(x / n): the double division rounds at
      // 2^53 — exactly the token offsets a 100 TB corpus reaches
      .select(col("doc_id"), col("n_tokens"), col("global_offset"),
        expr(s"global_offset div $seqLen").as("seq_start"),
        expr(s"(global_offset + n_tokens - 1) div $seqLen").as("seq_end"),
        (col("global_offset") % seqLen).as("off_in_seq"))
      .orderBy("doc_id")
  }
  val sequencePackSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS global_offset
      |  FROM t)
      |SELECT doc_id, n_tokens, global_offset,
      |  CAST(global_offset // 512 AS BIGINT) AS seq_start,
      |  CAST((global_offset + n_tokens - 1) // 512 AS BIGINT) AS seq_end,
      |  CAST(global_offset % 512 AS BIGINT) AS off_in_seq
      |FROM c ORDER BY doc_id""".stripMargin

  /** The consumer-side view of [[sequencePack]]: one row per packed
    * training sequence, with how many documents tile it, their exact
    * token contribution, and the doc-id range — the manifest a training
    * job reads to materialize batches. Every sequence carries exactly
    * `seqLen` tokens except the last (the tiling invariant; the oracle
    * pins it across the whole corpus). Pure explode + partial-aggregable
    * groupBy on top of the prefix sums — nothing new shuffles at scale.
    */
  def packedSequences(s: SparkSession, d: String, seqLen: Int = 512): DataFrame =
    sequencePack(s, d, seqLen)
      .select(col("doc_id"), col("n_tokens"), col("global_offset"),
        explode(sequence(col("seq_start"), col("seq_end"))).as("seq_id"))
      .withColumn("piece_len",
        least((col("seq_id") + 1) * seqLen, col("global_offset") + col("n_tokens")) -
          greatest(col("seq_id") * seqLen, col("global_offset")))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("piece_len").as("n_seq_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("seq_id")
  val packedSequencesSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS global_offset
      |  FROM t),
      |x AS (SELECT doc_id, n_tokens, global_offset,
      |        CAST(global_offset // 512 AS BIGINT) AS seq_start,
      |        CAST((global_offset + n_tokens - 1) // 512 AS BIGINT) AS seq_end FROM c),
      |e AS (SELECT doc_id, n_tokens, global_offset, u.sq AS seq_id
      |      FROM x CROSS JOIN UNNEST(generate_series(seq_start, seq_end)) AS u(sq)),
      |p AS (SELECT seq_id, doc_id,
      |        least((seq_id + 1) * 512, global_offset + n_tokens)
      |          - greatest(seq_id * 512, global_offset) AS piece_len FROM e)
      |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(piece_len) AS BIGINT) AS n_seq_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin

  /** Deterministic pre-training shuffle-shard: every document gets a
    * pseudo-random SHUFFLE KEY (`md5(seed | doc_id)` — seeded, so epoch 2
    * is a different but equally deterministic permutation), the first hex
    * nibble of the key is its shard (16-way split), and within a shard the
    * key ordering IS the training read order. This is the global-shuffle
    * step every pipeline runs before writing training shards — done as a
    * projection + hash partition, never a global sort: no engine at 100 TB
    * shuffle-sorts the corpus; it hash-bins to shards and sorts WITHIN each
    * shard (a per-partition sort of 1/16th of the data; see
    *  [[writeShuffleShards]] for the write path that materializes exactly
    * that). The query output is the shard MANIFEST a training job consumes:
    * per-shard doc count, token count, and the first/last `key|doc` in read
    * order (min/max — partial-aggregable, so the manifest itself is one
    * cheap rollup). Balance across shards is statistical (md5 uniformity);
    * the manifest's n_tokens column is the evidence.
    */
  val ShuffleSeed = "epoch1"
  def shuffleShard(s: SparkSession, d: String,
      seed: String = ShuffleSeed): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("toks"),
        md5(concat(lit(seed + "|"), col("doc_id").cast("string"))).as("skey"))
      .withColumn("shard",
        expr("instr('0123456789abcdef', substring(skey, 1, 1))").cast("int") - 1)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"),
        min(concat(col("skey"), lit("|"), col("doc_id").cast("string"))).as("first_doc"),
        max(concat(col("skey"), lit("|"), col("doc_id").cast("string"))).as("last_doc"))
      .orderBy("shard")
  val shuffleShardSql: String =
    s"""WITH k AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS toks,
       |    md5('$ShuffleSeed|' || doc_id::VARCHAR) AS skey
       |  FROM documents)
       |SELECT CAST(strpos('0123456789abcdef', substr(skey, 1, 1)) - 1 AS INT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  min(skey || '|' || doc_id::VARCHAR) AS first_doc,
       |  max(skey || '|' || doc_id::VARCHAR) AS last_doc
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** The write path [[shuffleShard]]'s manifest describes: hash-partition
    * the corpus into its 16 shards (one exchange on the shard id — the
    * only data movement), sort each shard by shuffle key WITHIN its
    * partition (no global sort anywhere in the plan), and write one
    * directory per shard. A training job streams `shard=K` in file order
    * and reads the documents in exactly the manifest's first_doc..last_doc
    * key order. Re-running with the same seed reproduces the byte-identical
    * layout; a new seed is a fresh epoch permutation.
    */
  def writeShuffleShards(s: SparkSession, d: String, outDir: String,
      seed: String = ShuffleSeed): Unit =
    Tables.documents(s, d)
      .withColumn("skey",
        md5(concat(lit(seed + "|"), col("doc_id").cast("string"))))
      .withColumn("shard",
        expr("instr('0123456789abcdef', substring(skey, 1, 1))").cast("int") - 1)
      .repartition(16, col("shard"))
      .sortWithinPartitions("shard", "skey")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  def mixtureSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("m", md5(col("doc_id").cast("string")))
      .withColumn("v",
        expr("(instr('0123456789abcdef', substring(m, 31, 1)) - 1) * 16 + " +
          "instr('0123456789abcdef', substring(m, 32, 1)) - 1"))
      .withColumn("thr",
        when(col("source") === "src0", 256)    // keep all
          .when(col("source") === "src1", 64)  // 25%
          .when(col("source") === "src2", 128) // 50%
          .otherwise(205))                     // ~80% default
      .filter(col("v") < col("thr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars").cast("long")).as("kept_chars"))
      .orderBy("source")
  val mixtureSampleSql: String =
    """WITH v AS (SELECT source, n_chars,
      |  (instr('0123456789abcdef', substring(md5(doc_id::VARCHAR), 31, 1)) - 1) * 16 +
      |   instr('0123456789abcdef', substring(md5(doc_id::VARCHAR), 32, 1)) - 1 AS v
      |  FROM documents)
      |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
      |FROM v
      |WHERE v < CASE source WHEN 'src0' THEN 256 WHEN 'src1' THEN 64
      |                      WHEN 'src2' THEN 128 ELSE 205 END
      |GROUP BY source ORDER BY source""".stripMargin

  /** Stratified sample: deterministic top-20-per-language by hash order
    * (md5 of the key, doc_id tiebreak). One shuffle on the stratum key;
    * rank-k per group is the scale-safe "sample N per class" primitive.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select("lang", "rn", "doc_id")
      .orderBy("lang", "rn")
  }
  val stratifiedSampleSql: String =
    """SELECT lang, rn, doc_id FROM (
      |  SELECT lang, doc_id,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS INT) AS rn
      |  FROM documents)
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  /** Inverse-frequency class weights (training-set balancing):
    * weight(label) = total / (n_labels · n_label). The per-label counts are
    * one partial-aggregated pass; the global totals ride a broadcast-sized
    * window over the tiny aggregate, never over the data.
    */
  def classBalance(s: SparkSession, d: String): DataFrame = {
    val all = Window.partitionBy()
    Tables.embeddings(s, d)
      .groupBy("label").agg(count(lit(1)).as("n"))
      .withColumn("weight",
        sum(col("n")).over(all).cast("double") /
          (count(lit(1)).over(all) * col("n")))
      .select("label", "n", "weight")
      .orderBy("label")
  }
  val classBalanceSql: String =
    """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
      |SELECT label, n,
      |  CAST((SELECT sum(n) FROM c) AS DOUBLE) / ((SELECT count(*) FROM c) * n) AS weight
      |FROM c ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // Window / grouping completions
  // ---------------------------------------------------------------------

  /** lead/lag deltas: per-user inter-event gap (seconds) and the next event
    * type — the feature-engineering window shape (one shuffle on user_id).
    */
  def leadDelta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("gap_s", col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select("event_id", "user_id", "gap_s", "next_type")
      .orderBy("event_id")
  }
  val leadDeltaSql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events)
      |SELECT event_id, user_id,
      |  CAST(date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS BIGINT) AS gap_s,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |FROM ev ORDER BY event_id""".stripMargin

  /** GROUPING SETS with grouping() markers — the explicit multi-level
    * aggregate (rollup/cube's general form), one pass with partial aggs.
    * Identical SQL text runs on both engines.
    */
  private val groupingSetsText: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |  CAST(grouping(l_linestatus) AS INT) AS g_status,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(groupingSetsText)
  }
  val groupingSetsSql: String = groupingSetsText

  /** Exact per-group median without interpolation ambiguity — computed by
    * COUNTING, not sorting rows: quantities are discrete, so the per-group
    * value histogram is tiny. Cumulative ranks over the histogram locate the
    * two middle elements; their exact-decimal mean is one double division.
    *
    * This is the plan that survives 100 TB: the only wide operation is a
    * partial-aggregable groupBy(group, value); the rank window runs over
    * the ~|distinct values| histogram rows, never the data. (A row_number
    * over rows would range-sort the entire fact table into one reducer per
    * group.) Result is bit-identical to the oracle's middle-rank
    * formulation: (v1+v2) is exact in decimal→double, and /2 is the same
    * IEEE operation both sides.
    */
  def exactMedian(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grp = Window.partitionBy("l_returnflag")
    hist
      .withColumn("hi", sum(col("c")).over(byVal))
      .withColumn("lo", col("hi") - col("c") + 1)
      .withColumn("n", sum(col("c")).over(grp))
      .withColumn("m1", expr("(n + 1) div 2"))
      .withColumn("m2", expr("(n + 2) div 2"))
      .withColumn("cov",
        when(col("m1").between(col("lo"), col("hi")), 1).otherwise(0) +
          when(col("m2").between(col("lo"), col("hi")), 1).otherwise(0))
      .filter(col("cov") > 0)
      .groupBy("l_returnflag")
      .agg((sum(dec2(col("l_quantity")) * col("cov")).cast("double") / 2.0).as("median_qty"))
      .orderBy("l_returnflag")
  }
  val exactMedianSql: String =
    """WITH o AS (SELECT l_returnflag, l_quantity,
      |  row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |  count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS median_qty
      |FROM o WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Grouped top-k through the native bounded-heap operator
    * ([[graft.plans.TopKPerGroupExec]]): top-3 orders per priority by
    * price. The heap pass reduces 150k rows to 15 BEFORE the ranking
    * window runs (over 15 rows) — versus the window-only plan that fully
    * sorts every group. Oracle: the equivalent row_number formulation.
    */
  def topkNative(s: SparkSession, d: String): DataFrame = {
    graft.catalyst.GraftExtensions.register(s)
    val top = graft.plans.NativeTopK.perGroup(
      Tables.orders(s, d).select("o_orderpriority", "o_orderkey", "o_totalprice"),
      Seq("o_orderpriority"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    top.withColumn("rnk", row_number().over(w))
      .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rnk")
  }
  val topkNativeSql: String =
    """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin

  /** Skew-safe holistic aggregation, oracle-gated: distinct ship months per
    * return flag via [[graft.operators.SkewOps.saltedCollectSet]]. The key
    * has 3 values over 600k rows — exactly the shape where an unsalted
    * collect funnels everything into 3 reducers; the two-phase salted plan
    * spreads phase 1 over `salt` buckets and merges tiny partials in
    * phase 2, with a result identical to the direct formulation.
    */
  def saltedDistinct(s: SparkSession, d: String): DataFrame =
    graft.operators.SkewOps.saltedCollectSet(
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), trunc(to_date(col("l_shipdate")), "month").as("m")),
      key = "l_returnflag", value = "m", saltBuckets = 16)
      .withColumn("months", concat_ws(",", col("m_set").cast("array<string>")))
      .select("l_returnflag", "months")
      .orderBy("l_returnflag")
  val saltedDistinctSql: String =
    """SELECT l_returnflag,
      |  array_to_string(list_sort(list(DISTINCT
      |    CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)::VARCHAR)), ',') AS months
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** from_json → typed struct → field access: the schema-full JSON path
    * (JsonToStructs), complementing get_json_object's schema-less probe.
    */
  def jsonStruct(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.events(s, d).select("event_id", "props"))
      .orderBy("event_id")
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k STRING"))
          .getField("k").as("k_typed"))
  val jsonStructSql: String =
    """SELECT event_id, json_extract_string(props, '$.k') AS k_typed
      |FROM events ORDER BY event_id""".stripMargin

  /** posexplode — generator with ordinality (position-aware flattening). */
  def posExplode(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
      .orderBy("doc_id", "pos")
  val posExplodeSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
      |SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
      |FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t)
      |ORDER BY doc_id, pos""".stripMargin

  /** Moment statistics (mean/variance/stddev/correlation) from EXACT
    * decimal moment sums with the closed-form double formula at the end.
    * Built-in corr()/stddev() use streaming one-pass updates whose result
    * depends on partial-aggregation order — not reproducible across
    * engines or even across partitionings; exact sums are order-free, so
    * this formulation is bit-stable anywhere (and still one partial-agg
    * pass over the data).
    *
    * The oracle converts each sum decimal→VARCHAR→DOUBLE: above ~2⁶³
    * internal units DuckDB's int128→double split-conversion can land 1 ulp
    * off the correctly-rounded value Spark's BigDecimal.doubleValue
    * produces; both engines' string→double parses are correctly rounded.
    */
  def corrStats(s: SparkSession, d: String): DataFrame = {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select(
        col("n"),
        (col("sx") / col("n")).as("mean_qty"),
        (col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
          .as("var_qty"),
        // a zero-variance column (constant quantity or price — schema-valid
        // degenerate data) zeroes the σ product: ρ is NULL (the NumOps
        // safeDiv contract; DuckDB's x/0 is NULL natively), never an ANSI
        // DIVIDE_BY_ZERO job failure
        graft.functions.NumOps.safeDiv(
          col("n") * col("sxy") - col("sx") * col("sy"),
          sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))).as("corr_qty_price"))
  }
  val corrStatsSql: String =
    """WITH m AS (SELECT count(*) AS n,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy
      |  FROM lineitem)
      |SELECT n, sx / n AS mean_qty,
      |  sxx / n - (sx / n) * (sx / n) AS var_qty,
      |  (n * sxy - sx * sy) /
      |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
      |FROM m""".stripMargin

  /** Exact decile grid per group, by the same count-histogram technique as
    * [[exactMedian]]: decile k = the value covering rank ⌈n·k/10⌉. All rank
    * arithmetic is integral — no interpolation, no cross-engine float risk —
    * and the only wide operation is the partial-aggregable histogram
    * groupBy; the rank windows run over histogram rows.
    */
  def deciles(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grp = Window.partitionBy("l_returnflag")
    hist
      .withColumn("hi", sum(col("c")).over(byVal))
      .withColumn("lo", col("hi") - col("c") + 1)
      .withColumn("n", sum(col("c")).over(grp))
      .select(col("l_returnflag"), col("l_quantity"), col("lo"), col("hi"), col("n"),
        explode(sequence(lit(1), lit(9))).as("k"))
      .filter(expr("(n * CAST(k AS BIGINT) + 9) div 10").between(col("lo"), col("hi")))
      .select(col("l_returnflag"), col("k").as("decile"), col("l_quantity").as("dec_val"))
      .orderBy("l_returnflag", "decile")
  }
  val decilesSql: String =
    """WITH h AS (SELECT l_returnflag, l_quantity, count(*) AS c FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT l_returnflag, l_quantity,
      |  sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS hi,
      |  sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - c + 1 AS lo,
      |  sum(c) OVER (PARTITION BY l_returnflag) AS n FROM h),
      |ks AS (SELECT unnest(generate_series(1, 9)) AS k)
      |SELECT l_returnflag, CAST(k AS INT) AS decile, l_quantity AS dec_val
      |FROM w, ks WHERE (n * k + 9) // 10 BETWEEN lo AND hi
      |ORDER BY l_returnflag, decile""".stripMargin

  /** ntile / percent_rank / cume_dist — the ranking-family completion.
    * percent_rank = (rank-1)/(N-1) and cume_dist = peers/N are exact double
    * divisions, identical across engines; the unique (acctbal, custkey)
    * order makes every rank deterministic.
    *
    * Scale note: an un-partitioned ranking window is a single-reducer sort;
    * at 100 TB rank within strata (or pre-aggregate to the quantile grid)
    * instead. The shape is still part of the query surface.
    */
  def ntilePctRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .select("c_custkey", "quartile", "pct_rank", "cume")
      .orderBy("c_custkey")
  }
  val ntilePctRankSql: String =
    """SELECT c_custkey,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM customer
      |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** first_value / nth_value / last_value with explicit frames, one ship
    * month. last_value needs the full-partition frame (the default frame
    * ends at CURRENT ROW — a classic cross-engine footgun, pinned here).
    */
  def firstLast(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("l_returnflag")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-02-01 00:00:00")))
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .withColumn("first_qty", first(col("l_quantity")).over(run))
      .withColumn("third_qty", nth_value(col("l_quantity"), 3).over(run))
      .withColumn("last_qty", last(col("l_quantity")).over(full))
      .select("l_returnflag", "l_orderkey", "l_linenumber", "first_qty", "third_qty", "last_qty")
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
  }
  val firstLastSql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber,
      |  first_value(l_quantity) OVER w AS first_qty,
      |  nth_value(l_quantity, 3) OVER w AS third_qty,
      |  last_value(l_quantity) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
      |WINDOW w AS (PARTITION BY l_returnflag
      |  ORDER BY l_shipdate, l_orderkey, l_linenumber
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin

  /** Array function surface: sort, slice, membership, join — over the token
    * array (pure projection; generator-free).
    */
  def arrayOps(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_toks"),
        concat_ws(" ", slice(sort_array(col("toks")), 1, 3)).as("first3_sorted"),
        array_contains(col("toks"), "spark").as("has_spark"))
      .orderBy("doc_id")
  val arrayOpsSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_toks,
      |  array_to_string(list_sort(toks)[1:3], ' ') AS first3_sorted,
      |  list_contains(toks, 'spark') AS has_spark
      |FROM t ORDER BY doc_id""".stripMargin

  /** Map (MapType) surface: construction, lookup, key enumeration. The
    * oracle checks the VALUES (DuckDB maps have different physical
    * semantics); the Spark plan exercises MapType end-to-end.
    */
  def mapOps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        map(lit("type"), col("event_type"), lit("user"), col("user_id").cast("string")).as("m"))
      .select(
        col("event_id"),
        element_at(col("m"), "type").as("etype"),
        size(col("m")).as("n_keys"),
        concat_ws(",", map_keys(col("m"))).as("keys"))
      .orderBy("event_id")
  val mapOpsSql: String =
    """SELECT event_id, event_type AS etype, CAST(2 AS INT) AS n_keys,
      |  'type,user' AS keys
      |FROM events ORDER BY event_id""".stripMargin

  /** RANGE window frame (value-based, not row-based): orders within 1000.0
    * of the current total price. Peer handling is frame-defined, so the
    * count is deterministic under ties. SQL-text path (frame grammar).
    *
    * SCALE WARNING: the un-partitioned ORDER BY plans a SINGLE-PARTITION
    * window — fine as a parser/grammar demo at bench scale, wrong at 100 TB.
    * The pattern to copy for a global value-range frame over big data is
    * [[windowRangeScaled]], which computes the identical result with a
    * bucketed self-join and no Window operator at all.
    */
  private val windowRangeText: String =
    """SELECT o_orderkey,
      |  count(*) OVER (ORDER BY o_totalprice
      |    RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_near
      |FROM orders ORDER BY o_orderkey""".stripMargin
  def windowRange(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(windowRangeText)
  }
  val windowRangeSql: String = windowRangeText

  /** Scale-safe twin of [[windowRange]]: the same global value-range count
    * (rows with `o_totalprice` in `[p − 1000, p]` for each row) WITHOUT a
    * single-partition Window. Prices are bucketed by `floor(p / w)` with
    * bucket width w equal to the frame width, so every row's frame spans at
    * most two buckets: explode each probe row to its two candidate buckets,
    * join on the bucket key (a normal shuffled equi-join that scales out),
    * and count the in-range values per row. All arithmetic is the same
    * double ops the window frame computes, so the result is bit-identical.
    *
    * 100 TB posture: work is O(n · avg bucket size) spread over all
    * executors — no global sort, no single partition. The bucket width is
    * the skew knob: narrow it (and probe proportionally more buckets) if
    * one price band dominates. The oracle is the window-form SQL itself,
    * so equivalence with the grammar demo is machine-checked.
    *
    * Honest local cost: at bench scale (150k rows fit one partition
    * trivially) the single-partition window is FASTER (~0.8 s vs ~1.2 s at
    * sf0.1) — the rewrite pays explode+join overhead to buy horizontal
    * scalability, and only wins once the data outgrows one task. Use the
    * window form for small data, this form when it cannot hold.
    */
  def windowRangeScaled(s: SparkSession, d: String): DataFrame = {
    val w = 1000.0
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val buckets = orders
      .groupBy(floor(col("o_totalprice") / w).cast("long").as("bucket"))
      .agg(collect_list(col("o_totalprice")).as("vals"))
    orders
      .withColumn("b", floor(col("o_totalprice") / w).cast("long"))
      .select(col("o_orderkey"), col("o_totalprice"),
        explode(array(col("b") - 1, col("b"))).as("bucket"))
      .join(buckets, Seq("bucket"), "left")
      .select(col("o_orderkey"),
        // native codegen'd interval count ([[graft.catalyst.CountInRange]]):
        // this is the query's inner loop (every probe row scans its joined
        // bucket array), and the interpreted size(filter(...)) form paid
        // per-element lambda dispatch — 8.1 s vs sub-second at sf0.1
        coalesce(graft.catalyst.HashFunctions.count_between(col("vals"),
          col("o_totalprice") - w, col("o_totalprice")), lit(0L)).as("c"))
      .groupBy("o_orderkey")
      .agg(sum("c").as("n_near"))
      .orderBy("o_orderkey")
  }
  val windowRangeScaledSql: String = windowRangeText

  /** Date-function surface beyond arithmetic: truncation to month/quarter,
    * end-of-month, day-of-week, calendar fields, month-add with end-of-month
    * clamping (both engines clamp Jan 31 + 1 month to Feb end).
    */
  def dateExtra(s: SparkSession, d: String): DataFrame = {
    val od = to_date(col("o_orderdate"))
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        trunc(od, "month").as("month_start"),
        trunc(od, "quarter").as("qtr_start"),
        last_day(od).as("month_end"),
        dayofweek(od).as("dow1"),
        year(od).as("y"),
        quarter(od).as("q"),
        add_months(od, 1).as("plus_m"))
      .orderBy("o_orderkey")
  }
  val dateExtraSql: String =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
      |  CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS qtr_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(extract(dow FROM CAST(o_orderdate AS DATE)) AS INT) + 1 AS dow1,
      |  CAST(extract(year FROM o_orderdate) AS INT) AS y,
      |  CAST(extract(quarter FROM o_orderdate) AS INT) AS q,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_m
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** String-function surface beyond split/concat: padding, reversal,
    * character translation, regexp_extract_all (+ element access).
    */
  def stringExtra(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        lpad(col("c_name"), 25, "*").as("padded"),
        reverse(col("c_name")).as("rev"),
        translate(col("c_name"), "#0", "_O").as("tr"),
        size(regexp_extract_all(col("c_name"), lit("[0-9]+"), lit(0))).as("n_runs"),
        element_at(regexp_extract_all(col("c_name"), lit("[0-9]+"), lit(0)), 1).as("first_num"))
      .orderBy("c_custkey")
  val stringExtraSql: String =
    """SELECT c_custkey,
      |  lpad(c_name, 25, '*') AS padded,
      |  reverse(c_name) AS rev,
      |  translate(c_name, '#0', '_O') AS tr,
      |  CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INT) AS n_runs,
      |  regexp_extract_all(c_name, '[0-9]+')[1] AS first_num
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Conditional-expression surface: coalesce/nullif/greatest/least — the
    * null-handling idioms every ETL layer leans on.
    */
  def condOps(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("X")).as("flag_or_x"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("g"),
        least(col("l_quantity"), col("l_tax") * 100).as("l"))
      .orderBy("l_orderkey", "l_linenumber")
  val condOpsSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  coalesce(nullif(l_returnflag, 'N'), 'X') AS flag_or_x,
      |  greatest(l_quantity, l_discount * 100) AS g,
      |  least(l_quantity, l_tax * 100) AS l
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** The custom DataSource V2 connector under the oracle gate: scan the
    * deterministic ticker source with a PUSHED ticker filter and aggregate.
    * The oracle replays the same pure index functions with
    * generate_series — proving scan, pushdown and value generation against
    * an independent engine.
    */
  def dsv2Scan(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.TicksSourceProvider")
      .option("rows", 100000).option("partitions", 8).option("tickers", 16)
      .load()
      .filter(col("ticker") === "TCK3-USDT") // pushed into the source
      .agg(
        count(lit(1)).as("n"),
        sum(col("sequence")).as("sum_seq"),
        (sum(col("price").cast(DecimalType(18, 4))).cast("double") / count(lit(1)))
          .as("avg_price"))
  val dsv2ScanSql: String =
    """SELECT count(*) AS n,
      |  CAST(sum(i) AS BIGINT) AS sum_seq,
      |  CAST(sum(CAST(0.5 + (i % 9000) / 10000.0 AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price
      |FROM generate_series(0, 99999) t(i) WHERE i % 16 = 3""".stripMargin

  /** The connector's AGGREGATE pushdown under the oracle gate: COUNT/MIN/MAX
    * grouped by ticker are answered by the source itself in closed form over
    * the deterministic index space (`SupportsPushDownAggregates` with
    * complete pushdown — no aggregate node survives in the plan; see
    * TicksSourceSpec for the plan assertion and the trillion-row instant
    * answer). The oracle recomputes the same aggregates from
    * generate_series.
    */
  def dsv2AggPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.TicksSourceProvider")
      .option("rows", 100000).option("partitions", 8).option("tickers", 16)
      .load()
      .groupBy(col("ticker"))
      .agg(
        count(lit(1)).as("n"),
        min(col("sequence")).as("min_seq"), max(col("sequence")).as("max_seq"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .orderBy("ticker")
  val dsv2AggPushdownSql: String =
    """SELECT concat('TCK', i % 16, '-USDT') AS ticker,
      |  count(*) AS n,
      |  CAST(min(i) AS BIGINT) AS min_seq,
      |  CAST(max(i) AS BIGINT) AS max_seq,
      |  min(0.5 + (i % 9000) / 10000.0) AS min_price,
      |  max(0.5 + (i % 9000) / 10000.0) AS max_price
      |FROM generate_series(0, 99999) t(i) GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sketch aggregates — HLL distinct and quantile sketch — under the full
    * oracle gate: the sketch values themselves are engine-specific, so the
    * query emits the EXACT answers plus in-query error-bound booleans
    * (|HLL − exact|/exact ≤ 0.1 = 2×rsd; approx median within the exact
    * p49–p51 band). The DuckDB oracle expects TRUE for both — a sketch
    * drifting out of its documented envelope hash-mismatches the gate.
    * The spec additionally pins the raw 5% envelope at sf0.001.
    */
  def approxSketches(s: SparkSession, d: String): DataFrame = {
    // countDistinct in the same Aggregate as the sketches would plan an
    // Expand (input × aggregate-group multiplier) over the whole fact
    // table; computed as its own two-phase distinct agg and cross-joined
    // (both sides are one row), the scan runs twice but nothing expands —
    // measurably cheaper at sf0.1 and the winning shape at 100 TB
    val sketches = Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("l_partkey")).as("_apx"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("_apxmed"),
        expr("percentile(l_quantity, 0.49)").as("_lo"),
        expr("percentile(l_quantity, 0.51)").as("_hi"))
    val exact = Tables.lineitem(s, d)
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    sketches.crossJoin(broadcast(exact))
      .select(col("n"), col("exact_parts"),
        (abs(col("_apx") - col("exact_parts")).cast("double") / col("exact_parts") <= 0.1)
          .as("parts_ok"),
        (col("_apxmed") >= col("_lo") && col("_apxmed") <= col("_hi")).as("median_ok"))
  }
  val approxSketchesSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  TRUE AS parts_ok, TRUE AS median_ok
      |FROM lineitem""".stripMargin

  /** The SQL-TEXT path to the native Catalyst expressions: `simhash32`,
    * `repetition_stats` and `dot` called by name from `spark.sql(...)`,
    * resolved through the session [[graft.catalyst.GraftExtensions]]
    * registration (FunctionRegistry), not the Column DSL. Oracled by
    * composing the already-proven DuckDB replays of each expression
    * (simhash bit pyramid, word-count TTR, list_sum self-dot).
    */
  def sqlNativeFns(s: SparkSession, d: String): DataFrame = {
    graft.catalyst.GraftExtensions.register(s)
    Tables.documents(s, d).createOrReplaceTempView("documents")
    Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
    s.sql("""
      SELECT d.doc_id,
             simhash32(split(trim(d.text), '\\s+')) AS simhash,
             repetition_stats(split(trim(d.text), '\\s+')).ttr AS ttr,
             round(dot(e.embedding, e.embedding), 4) AS self_dot
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      ORDER BY d.doc_id""")
  }
  val sqlNativeFnsSql: String =
    s"""WITH toks AS (SELECT doc_id, substr(md5(unnest(regexp_split_to_array(trim(text), '\\s+'))), 1, 8) AS h8
       |             FROM documents),
       |bits AS (
       |  SELECT doc_id, p,
       |    CASE p % 4 WHEN 0 THEN (strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) % 2
       |               WHEN 1 THEN ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 2) % 2
       |               WHEN 2 THEN ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 4) % 2
       |               ELSE ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 8) % 2 END AS bit
       |  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, ${graft.operators.DedupOps.SimHashBits - 1})) AS p)),
       |votes AS (SELECT doc_id, p, sum(bit * 2 - 1) AS vote FROM bits GROUP BY 1, 2),
       |sh AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |       FROM votes GROUP BY doc_id),
       |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |w AS (SELECT doc_id, unnest(toks) AS w FROM t),
       |wagg AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dw, CAST(sum(c) AS DOUBLE) AS n
       |         FROM (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2) GROUP BY 1)
       |SELECT d.doc_id, sh.simhash,
       |  coalesce(dw / n, 0.0) AS ttr,
       |  round(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)), 4) AS self_dot
       |FROM documents d
       |JOIN sh USING (doc_id)
       |LEFT JOIN wagg USING (doc_id)
       |JOIN embeddings e ON e.vec_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Heaps' law fit — vocabulary growth V(N) ≈ K·N^β over the corpus laid
    * out in doc_id order (Heaps 1978; β ≈ 0.4–0.6 for natural text —
    * public corpus-linguistics folklore). The growth-curve sibling of
    * [[zipfFit]] (same OLS discipline) and [[graft.operators.DedupOps
    * .ngramNovelty]] (same first-occurrence construction): duplicated or
    * templated corpora bend β down, so the fit is a one-row corpus-health
    * diagnostic.
    *
    * Per-doc cumulative token count N_d and cumulative vocabulary V_d
    * (tokens whose FIRST occurrence is ≤ d) are two inclusive prefix sums
    * computed with the [[sequencePack]] two-level discipline — a window
    * partitioned by doc block plus the [[exclusivePrefix]] recursion on
    * block totals — never a single-partition window. The regression runs
    * over ln-ln points with round-6 ln and DECIMAL moment sums (the
    * [[zipfFit]] determinism rules). The joined per-doc frame is
    * localCheckpointed once (3 longs per doc) because two prefix
    * constructions consume it.
    */
  def heapsFit(s: SparkSession, d: String, blockSize: Int = 64,
      maxWindowRows: Long = 1L << 20): DataFrame =
    heapsFitOver(Tables.fanOut(Tables.documents(s, d)),
      blockCountBound(s, d, blockSize), blockSize, maxWindowRows)

  /** [[heapsFit]] over an explicit (`doc_id`, `text`) frame — `nKeysBound`
    * is the caller's doc_id-RANGE-derived block-count bound (see
    * [[blockCountBound]]; a row count is NOT valid under the recursion).
    */
  def heapsFitOver(docs: DataFrame, nKeysBound: Long, blockSize: Int = 64,
      maxWindowRows: Long = 1L << 20): DataFrame = {
    val D6 = DecimalType(18, 6)
    val toks = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val tc = toks.groupBy("doc_id").agg(count(lit(1)).as("tc"))
    val nv = toks.groupBy("token").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("nv"))
    val fr = tc.join(nv, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tc"),
        coalesce(col("nv"), lit(0L)).as("nv"),
        floorDiv("doc_id", blockSize).as("blk"))
      .localCheckpoint(true)
    val wIn = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBlk = fr.withColumn("tin", sum("tc").over(wIn))
      .withColumn("vin", sum("nv").over(wIn))
    val nBlocks = nKeysBound
    val totals = fr.groupBy("blk")
      .agg(sum("tc").cast("long").as("bt"), sum("nv").cast("long").as("bv"))
    val tOff = exclusivePrefix(totals.select(col("blk"), col("bt")),
      "blk", "bt", blockSize, maxWindowRows, nBlocks).withColumnRenamed("off", "t_off")
    val vOff = exclusivePrefix(totals.select(col("blk"), col("bv")),
      "blk", "bv", blockSize, maxWindowRows, nBlocks).withColumnRenamed("off", "v_off")
    val cum = inBlk
      .join(if (nBlocks <= maxWindowRows) broadcast(tOff) else tOff, "blk")
      .join(if (nBlocks <= maxWindowRows) broadcast(vOff) else vOff, "blk")
      .select((col("t_off") + col("tin")).as("nd"),
        (col("v_off") + col("vin")).as("vd"))
      .filter(col("nd") >= 1 && col("vd") >= 1)
    val pts = cum.select(
        round(log(col("nd").cast("double")), 6).as("x"),
        round(log(col("vd").cast("double")), 6).as("y"))
      .select(col("x"), col("y"),
        round(col("x") * col("x"), 6).as("xx"),
        round(col("x") * col("y"), 6).as("xy"))
    val m = pts.agg(
      count(lit(1)).as("k"),
      sum(col("x").cast(D6)).cast("double").as("sx"),
      sum(col("y").cast(D6)).cast("double").as("sy"),
      sum(col("xx").cast(D6)).cast("double").as("sxx"),
      sum(col("xy").cast(D6)).cast("double").as("sxy"))
    // a DEGENERATE point set (k = 1, or a constant x domain) zeroes the
    // least-squares denominator: slope/intercept go NULL (the NumOps
    // safeDiv contract, = DuckDB's native x/0 -> NULL), never ANSI-fatal
    val b = graft.functions.NumOps.safeDiv(
      col("k") * col("sxy") - col("sx") * col("sy"),
      col("k") * col("sxx") - col("sx") * col("sx"))
    m.select(col("k").as("n_docs"),
      round(b, 4).as("beta"),
      round((col("sy") - b * col("sx")) / col("k"), 4).as("intercept"))
  }
  val heapsFitSql: String =
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |              FROM documents),
      |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tc FROM toks GROUP BY 1),
      |nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nv
      |       FROM (SELECT token, min(doc_id) AS fd FROM toks GROUP BY 1) GROUP BY 1),
      |fr AS (SELECT tc.doc_id, tc.tc, coalesce(nv.nv, 0) AS nv
      |       FROM tc LEFT JOIN nv USING (doc_id)),
      |cum AS (SELECT sum(tc) OVER w AS nd, sum(nv) OVER w AS vd
      |        FROM fr WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |p AS (SELECT round(ln(nd::DOUBLE), 6) AS x, round(ln(vd::DOUBLE), 6) AS y
      |      FROM cum WHERE nd >= 1 AND vd >= 1),
      |p2 AS (SELECT x, y, round(x * x, 6) AS xx, round(x * y, 6) AS xy FROM p),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |        CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |        CAST(sum(CAST(xx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
      |        CAST(sum(CAST(xy AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      |      FROM p2)
      |SELECT k AS n_docs,
      |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) + 0.0 AS beta,
      |  round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 4) + 0.0 AS intercept
      |FROM m""".stripMargin

  /** Systematic probability-proportional-to-size sampling (Madow 1949 —
    * public-domain survey statistics): draw [[PpsSampleK]] units where each
    * document's inclusion count is proportional to its size weight
    * (`n_chars` standing in for token count) — the "sample documents
    * proportional to their token budget" selection every data-mixture
    * pipeline needs, done EXACTLY and deterministically, with no
    * transcendental keys (the Efraimidis–Spirakis `u^(1/w)` trick needs
    * pow/ln, which cross-engine libm makes unreplayable; the systematic
    * grid needs only integer arithmetic).
    *
    * Construction: order docs by a seeded md5 permutation (the
    * [[shuffleShard]] convention), take the inclusive cumulative weight
    * `C_i`, and select each doc `⌊C_i·k/W⌋ − ⌊C_{i−1}·k/W⌋` times — a
    * telescoping sum, so EXACTLY k selections always, with a doc drawn
    * multiple times iff its weight spans multiple grid cells (the PPS
    * up-sampling semantics). All arithmetic is long (`C·k` holds to
    * W·k < 2⁶³ — beyond that, lift to DECIMAL(38,0), same ops).
    *
    * Scale shape: the cumulative sum is the two-level discipline — a
    * window PARTITIONED by the permutation key's first 2 hex chars (256
    * buckets; widen to 4 hex chars + one more offset level at 100 TB —
    * the [[exclusivePrefix]] recursion on strings) and a bounded 256-row
    * self-join for bucket offsets, broadcast. No global sort, no
    * single-partition window.
    */
  val PpsSampleK = 100
  def ppsSample(s: SparkSession, d: String): DataFrame = {
    val w = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"),
        greatest(coalesce(col("n_chars"), lit(1L)), lit(1L)).as("w"),
        md5(concat(lit("pps|"), col("doc_id").cast("string"))).as("skey"))
      .withColumn("b", substring(col("skey"), 1, 2))
      // materialized once: cumIn and the bucket totals (and off/tot via
      // them) otherwise each re-ran the scan + md5 projection (8 parquet
      // scans in the r18 before-plan); ~50 B/row, the tokDocs discipline
      .localCheckpoint(true)
    val inBucket = Window.partitionBy("b").orderBy("skey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumIn = w.withColumn("ci_in", sum("w").over(inBucket))
    val bt = w.groupBy("b").agg(sum("w").cast("long").as("bw"))
    val off = bt.join(bt.select(col("b").as("b2"), col("bw").as("bw2")),
        col("b2") < col("b"), "left")
      .groupBy("b").agg(coalesce(sum("bw2"), lit(0L)).as("off"))
    val tot = bt.agg(sum("bw").cast("long").as("tw"))
    cumIn.join(broadcast(off), "b").crossJoin(broadcast(tot))
      .withColumn("ci", col("off") + col("ci_in"))
      .withColumn("n_copies",
        expr(s"(ci * $PpsSampleK) div tw - ((ci - w) * $PpsSampleK) div tw"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("w").cast("long").as("w"),
        col("n_copies").cast("long").as("n_copies"))
      .orderBy("doc_id")
  }
  val ppsSampleSql: String =
    s"""WITH w AS (SELECT doc_id, greatest(coalesce(n_chars, 1), 1) AS w,
       |             md5('pps|' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
       |c AS (SELECT doc_id, w,
       |        sum(w) OVER (ORDER BY skey, doc_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
       |      FROM w),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w)
       |SELECT doc_id, CAST(w AS BIGINT) AS w,
       |  CAST((ci * $PpsSampleK) // tw - ((ci - w) * $PpsSampleK) // tw AS BIGINT) AS n_copies
       |FROM c CROSS JOIN t
       |WHERE (ci * $PpsSampleK) // tw - ((ci - w) * $PpsSampleK) // tw >= 1
       |ORDER BY doc_id""".stripMargin

  /** Temperature-scaled mixture allocation: split a fixed sample budget of
    * [[TempAllocK]] documents across sources with probabilities ∝ mass^α —
    * the standard low-resource up-weighting of multilingual/multi-corpus
    * sampling (α < 1 flattens the head). α is fixed at 0.5 because `sqrt`
    * is an IEEE CORRECTLY-ROUNDED primitive on both engines, while a
    * general `pow(x, 0.7)` may differ by 1 ulp across libm builds — the
    * one float op per source is then bit-stable, and everything after it
    * (weights, floor quotas, largest-remainder top-up) is exact integer
    * arithmetic, so Σ n_alloc = K holds bit-for-bit in both engines.
    *
    * Scale shape: one partial-aggregable groupBy(source); everything
    * downstream operates on the |sources|-row table (the remainder rank is
    * a bounded self-join, NOT a partition-less window).
    */
  val TempAllocK = 1000
  def tempAlloc(s: SparkSession, d: String): DataFrame = {
    val w = Tables.fanOut(Tables.documents(s, d))
      .filter(col("text").isNotNull)
      .groupBy("source").agg(sum(coalesce(col("n_chars"), lit(0L))).as("mass"))
      .withColumn("w_u",
        round(lit(1e6) * sqrt(col("mass").cast("double"))).cast("long"))
      .localCheckpoint(true) // |sources| rows; feeds totals, rank, output
    val tot = w.agg(sum("w_u").as("tw"))
    val b = w.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($TempAllocK * w_u) div tw"))
      .withColumn("rem", expr(s"($TempAllocK * w_u) % tw"))
      .localCheckpoint(true)
    val extra = b.agg((lit(TempAllocK.toLong) - sum("base")).as("extra"))
    val rk = b.select(col("source"), col("rem"))
      .join(b.select(col("source").as("s2"), col("rem").as("r2")),
        col("r2") > col("rem") ||
          (col("r2") === col("rem") && col("s2") < col("source")), "left")
      .groupBy("source").agg(count(col("s2")).as("nbetter"))
    b.join(rk, Seq("source")).crossJoin(broadcast(extra))
      .select(col("source"), col("mass"), col("w_u"),
        (col("base") + when(col("nbetter") + 1 <= col("extra"), 1L).otherwise(0L))
          .as("n_alloc"))
      .orderBy("source")
  }

  val tempAllocSql: String =
    s"""WITH m AS (SELECT source, CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS mass
       |           FROM documents WHERE text IS NOT NULL GROUP BY source),
       |w AS (SELECT source, mass,
       |        CAST(round(1000000.0 * sqrt(CAST(mass AS DOUBLE))) AS BIGINT) AS w_u
       |      FROM m),
       |t AS (SELECT CAST(sum(w_u) AS BIGINT) AS tw FROM w),
       |b AS (SELECT source, mass, w_u,
       |        ($TempAllocK * w_u) // tw AS base, ($TempAllocK * w_u) % tw AS rem
       |      FROM w CROSS JOIN t),
       |x AS (SELECT CAST($TempAllocK - sum(base) AS BIGINT) AS extra FROM b),
       |r AS (SELECT a.source, CAST(count(bb.source) AS BIGINT) AS nbetter
       |      FROM b a LEFT JOIN b bb
       |        ON bb.rem > a.rem OR (bb.rem = a.rem AND bb.source < a.source)
       |      GROUP BY a.source)
       |SELECT b.source, b.mass, b.w_u,
       |       CAST(b.base + CASE WHEN r.nbetter + 1 <= x.extra THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
       |FROM b JOIN r USING (source) CROSS JOIN x
       |ORDER BY source""".stripMargin

  /** Top-k PMI collocations (Church & Hanks 1990): bigrams whose observed
    * corpus frequency most exceeds the independence expectation,
    * `PMI = ln(c_xy · N / (c_x⋅ · c⋅_y))` over the bigram stream's own
    * position counts (left-slot and right-slot marginals, so the three
    * count tables share one denominator N and the ratio is an exact
    * integer rational). One `ln` per SURVIVING bigram type is the whole
    * float surface, rounded once to integer micro-nats; min-support
    * `c_xy ≥ [[PmiMinSupport]]` applies the standard sparse-PMI guard.
    *
    * Scale shape: one bigram explode → three partial-aggregable groupBys
    * (bigram, left token, right token — the marginals are vocabulary-sized
    * joins back), a 1-row N stitch, bounded TakeOrderedAndProject.
    */
  val PmiMinSupport = 5
  val PmiTopK = 20
  def pmiColloc(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.fanOut(Tables.documents(s, d))
      .filter(col("text").isNotNull)
      .select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS l, t[i] AS r))")).as("b"))
      .select(col("b.l"), col("b.r"))
      .localCheckpoint(true) // joint + two marginals + N read this
    val cxy = bg.groupBy("l", "r").agg(count(lit(1)).as("c"))
      .filter(col("c") >= PmiMinSupport)
    val cl = bg.groupBy("l").agg(count(lit(1)).as("cl"))
    val cr = bg.groupBy("r").agg(count(lit(1)).as("cr"))
    val n = bg.agg(count(lit(1)).as("n"))
    cxy.join(cl, Seq("l")).join(cr, Seq("r")).crossJoin(broadcast(n))
      .select(col("l"), col("r"), col("c").as("n_pair"),
        round(lit(1e6) * log(col("c").cast("double") * col("n") /
          (col("cl").cast("double") * col("cr")))).cast("long").as("pmi_u"))
      .orderBy(col("pmi_u").desc, col("l"), col("r"))
      .limit(PmiTopK)
  }

  val pmiCollocSql: String =
    s"""WITH toks AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents WHERE text IS NOT NULL),
       |bg AS MATERIALIZED (
       |  SELECT t[i] AS l, t[i+1] AS r
       |  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
       |        FROM toks WHERE len(t) >= 2)),
       |cxy AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
       |cl AS (SELECT l, CAST(count(*) AS BIGINT) AS cl FROM bg GROUP BY 1),
       |cr AS (SELECT r, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg)
       |SELECT l, r, c AS n_pair,
       |  CAST(round(1000000.0 * ln(CAST(c AS DOUBLE) * n.n /
       |    (CAST(cl.cl AS DOUBLE) * cr.cr))) AS BIGINT) AS pmi_u
       |FROM cxy JOIN cl USING (l) JOIN cr USING (r) CROSS JOIN n
       |WHERE c >= $PmiMinSupport
       |ORDER BY pmi_u DESC, l, r LIMIT $PmiTopK""".stripMargin

  /** Pairwise Jensen–Shannon divergence between per-source unigram token
    * distributions — the domain-similarity matrix a mixture designer reads
    * next to [[graft.operators.DedupOps.sourceOverlap]]'s set-overlap form
    * (JSD sees FREQUENCY shift where Jaccard only sees vocabulary
    * membership; DoReMi-style reweighting keys off exactly this).
    *
    * Exactness discipline: JSD decomposes into shared-token terms plus a
    * closed-form remainder for one-sided tokens (a token absent from `b`
    * contributes pa·ln2/2, so the one-sided mass needs no join rows at
    * all: Σ = ln2/2 · (2 − Σ_shared pa − Σ_shared pb)). Each shared-token
    * term is rounded to integer MICRO-NATS (one round per term, identical
    * float expression tree in both engines), summed exactly, and the
    * remainder — a single double op per pair off exact integer count sums
    * — is rounded once. Order-independent, partition-safe.
    *
    * Scale shape: one data-scale groupBy((source, word)); the pair join
    * fans each word out by its source count (≤ |sources| per word, the
    * same bound [[graft.operators.DedupOps.sourceOverlap]] rides), then
    * one partial-aggregable groupBy(pair). Totals are a |sources|-row
    * broadcast.
    */
  def jsSources(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.fanOut(Tables.documents(s, d))
      .filter(col("text").isNotNull)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // totals + both sides of the pair join
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val pa = col("ca").cast("double") / col("na")
    val pb = col("cb").cast("double") / col("nb")
    cnt.select(col("word"), col("source").as("src_a"), col("c").as("ca"))
      .join(cnt.select(col("word"), col("source").as("src_b"), col("c").as("cb")),
        Seq("word"))
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(tot.select(col("source").as("src_a"), col("n").as("na"))), Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"), col("n").as("nb"))), Seq("src_b"))
      .withColumn("t_u", round(lit(1e6) * (
          lit(0.5) * pa * log(lit(2.0) * pa / (pa + pb)) +
          lit(0.5) * pb * log(lit(2.0) * pb / (pa + pb)))).cast("long"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"), sum("t_u").as("su"),
        sum("ca").as("sca"), sum("cb").as("scb"),
        first("na").as("na"), first("nb").as("nb"))
      .withColumn("r_u", round(lit(1e6) * lit(0.5) * log(lit(2.0)) *
        ((lit(1.0) - col("sca").cast("double") / col("na")) +
         (lit(1.0) - col("scb").cast("double") / col("nb")))).cast("long"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round((col("su") + col("r_u")).cast("double") / lit(1e6), 4).as("jsd"))
      .orderBy("src_a", "src_b")
  }

  val jsSourcesSql: String =
    """WITH cnt AS MATERIALIZED (
      |  SELECT source, word, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |        FROM documents WHERE text IS NOT NULL)
      |  GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
      |sp AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS ca, b.c AS cb,
      |         ta.n AS na, tb.n AS nb,
      |         CAST(a.c AS DOUBLE) / ta.n AS pa, CAST(b.c AS DOUBLE) / tb.n AS pb
      |       FROM cnt a JOIN cnt b ON a.word = b.word AND a.source < b.source
      |       JOIN tot ta ON ta.source = a.source
      |       JOIN tot tb ON tb.source = b.source),
      |tu AS (SELECT src_a, src_b, ca, cb, na, nb,
      |         CAST(round(1000000.0 * (0.5 * pa * ln(2.0 * pa / (pa + pb))
      |                               + 0.5 * pb * ln(2.0 * pb / (pa + pb)))) AS BIGINT) AS t_u
      |       FROM sp),
      |g AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared,
      |        CAST(sum(t_u) AS BIGINT) AS su, CAST(sum(ca) AS BIGINT) AS sca,
      |        CAST(sum(cb) AS BIGINT) AS scb, max(na) AS na, max(nb) AS nb
      |      FROM tu GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |       round(CAST(su + CAST(round(1000000.0 * 0.5 * ln(2.0) *
      |         ((1.0 - CAST(sca AS DOUBLE) / na) + (1.0 - CAST(scb AS DOUBLE) / nb)))
      |         AS BIGINT) AS DOUBLE) / 1000000.0, 4) + 0.0 AS jsd
      |FROM g ORDER BY src_a, src_b""".stripMargin
}
