package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.catalyst.HashFunctions
import graft.functions.TextOps

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Per-document signatures (MinHash, SimHash) are native Catalyst
  * expressions ([[graft.catalyst.SimHash32]], [[graft.catalyst.MinHashSignature]])
  * — one codegen'd projection per doc, zero shuffles — instead of
  * explode→groupBy pyramids. Only the genuinely pairwise steps shuffle.
  *
  * Cross-engine determinism: every hash is md5 (identical hex in Spark and
  * DuckDB); MinHash components are lexicographic mins of identical strings;
  * similarity scores are exact integer ratios.
  *
  * 100 TB design notes: the O(n²) step only ever runs on band/bucket
  * candidates, never the full corpus; shingle fan-out is capped by dropping
  * ultra-frequent shingles ([[StopShingleCap]]) — a shingle in k docs emits
  * k²/2 pairs, so boilerplate text would otherwise explode the join.
  */
object DedupOps {

  /** Exact dedup: group by content hash of normalized text, keep the minimum
    * doc_id as canonical. One map-side-combinable hash aggregation; at scale
    * this is the cheapest dedup and runs first to shrink the corpus.
    */
  def exactDedup(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(trim(col("text")), "\\s+", " ")
    Tables.documents(s, d)
      .groupBy(md5(norm).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("keep_id")
  }
  val exactDedupSql: String =
    """SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content_hash,
      |  min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Incremental dedup — the operational shape of every continuously-fed
    * corpus: a NEW batch is admitted against the HISTORICAL corpus, dropping
    * new docs whose exact fingerprint (whitespace-normalized md5) or
    * near-dup fingerprint (min-shingle hash, a 1-perm MinHash) already
    * exists in history. Two left-anti joins on md5 keys — at 100 TB the
    * historical side is a pre-computed fingerprint table (bucketed on the
    * hash for a co-located anti-join), NOT a rescan of the corpus; the new
    * batch is a day's data, orders of magnitude smaller. The persisted,
    * prefix-partitioned form of that table — with the probe's scan
    * partition-pruned to the batch's own prefixes — is
    * [[FingerprintStore]].
    *
    * The harness query splits `documents` by doc_id parity: even = history,
    * odd = the arriving batch.
    */
  def incrementalDedup(newDocs: DataFrame, histFingerprints: DataFrame): DataFrame =
    newDocs
      .join(histFingerprints.select(col("fp_exact")), Seq("fp_exact"), "left_anti")
      .join(histFingerprints.select(col("fp_min_shingle")).where(col("fp_min_shingle").isNotNull),
        Seq("fp_min_shingle"), "left_anti")

  private def fingerprinted(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(trim(col("text")), "\\s+", " ")
    val sh = HashFunctions.shingles3(TextOps.tokens(col("text")))
    docs.select(
      col("doc_id"),
      md5(norm).as("fp_exact"),
      array_min(transform(sh, x => md5(x))).as("fp_min_shingle"))
  }

  /** Oracle-gated incremental-dedup query: odd doc_ids admitted against the
    * even-id history; returns the admitted ids with their fingerprints.
    */
  def incrementalDedupQuery(s: SparkSession, d: String): DataFrame = {
    val fps = fingerprinted(Tables.fanOut(Tables.documents(s, d)))
    val hist = fps.filter(col("doc_id") % 2 === 0)
    val fresh = fps.filter(col("doc_id") % 2 === 1)
    incrementalDedup(fresh, hist)
      .select("doc_id", "fp_exact", "fp_min_shingle")
      .orderBy("doc_id")
  }
  val incrementalDedupSql: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp_exact,
      |    list_min(list_transform(
      |      CASE WHEN len(toks) >= 3 THEN
      |        list_transform(generate_series(1, len(toks)-2),
      |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |      ELSE [] END, x -> md5(x))) AS fp_min_shingle
      |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |hist AS (SELECT * FROM fp WHERE doc_id % 2 = 0),
      |fresh AS (SELECT * FROM fp WHERE doc_id % 2 = 1)
      |SELECT doc_id, fp_exact, fp_min_shingle FROM fresh f
      |WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp_exact = f.fp_exact)
      |  AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp_min_shingle = f.fp_min_shingle
      |                  AND f.fp_min_shingle IS NOT NULL)
      |ORDER BY doc_id""".stripMargin

  /** Max docs a shingle may appear in before it is dropped as a
    * stop-shingle (bounds candidate-pair fan-out at scale).
    */
  val StopShingleCap = 1000

  /** Per-doc distinct shingle arrays — computed in one projection (no
    * explode/distinct shuffle; `n` rides along for the Jaccard denominator).
    */
  private def shingleDocs(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      // materialize the token array in its own projection: the shingle
      // lambda's element_at calls then read an attribute instead of
      // re-running the regex split per shingle element (CollapseProject
      // keeps multi-use non-cheap expressions un-inlined)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), HashFunctions.shingles3(col("toks"), distinct = true).as("sh"))
      .withColumn("n", size(col("sh")))

  /** Hash-only twin of [[shingleDocs]] for the pipelines that never need the
    * shingle text: distinct 64-bit shingle keys straight from the token
    * array (native [[graft.catalyst.ShingleHashes3]] — no shingle string is
    * ever materialized).
    */
  private def shingleHashDocs(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), HashFunctions.shingle_hashes3(col("toks")).as("sh"))
      .withColumn("n", size(col("sh")))

  /** N-gram Jaccard near-dup: 3-word shingles, group docs per shingle, emit
    * candidate pairs from each (capped) posting list, count shared shingles,
    * exact Jaccard = |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.
    * Exactly two shuffles: groupBy(shingle), groupBy(pair).
    *
    * The posting groupBy keys on a 64-bit shingle hash, not the string: the
    * shuffle moves 8-byte keys instead of ~20-char text — and the hashes
    * come straight off the token array (native [[graft.catalyst.ShingleHashes3]],
    * no shingle string built at all). Counts are unchanged barring a 64-bit
    * collision between two distinct shingles of the same corpus
    * (P ≈ n²/2⁶⁵ — ~10⁻⁸ even at a billion shingles; the oracle gate would
    * flag one).
    */
  def ngramJaccardPairs(s: SparkSession, d: String, threshold: Double = 0.8): DataFrame =
    shingleHashDocs(s, d)
      .select(struct(col("doc_id"), col("n")).as("dn"), explode(col("sh")).as("s"))
      .groupBy("s").agg(collect_list(col("dn")).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= StopShingleCap)
      .select(explode(HashFunctions.pair_combos(col("ds"))).as("p"))
      .select(col("p.a_id"), col("p.b_id"), col("p.nn"))
      // group on the two ids only; the packed size pair is constant per
      // group so FIRST carries it through the partial agg (8 bytes instead
      // of two more grouping columns in every shuffle row)
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"), first(col("nn")).as("nn"))
      .withColumn("nsum",
        shiftrightunsigned(col("nn"), 32) + col("nn").bitwiseAND(lit(0xffffffffL)))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("nsum") - col("common")), 4))
      .filter(col("common").cast("double") / (col("nsum") - col("common")) >= threshold)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  /** Shared CTE chain producing the thresholded Jaccard pair list — reused
    * by the pair oracle and the connected-components oracle.
    */
  private val ngramPairsCtes: String =
    s"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3)),
       |freq AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $StopShingleCap),
       |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN freq USING (s)),
       |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
       |      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin
  val ngramJaccardSql: String =
    s"""WITH $ngramPairsCtes
       |SELECT a_id, b_id, round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard
       |FROM p JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id
       |WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  /** Oracle for [[DedupPipeline.clusters]] over the Jaccard pairs: a
    * recursive label-propagation CTE — every label reachable along
    * (undirected) edges accumulates per node; min(reachable) = component
    * minimum, exactly the cluster_id the pointer-jumping Spark loop
    * converges to.
    */
  val clusterCanonSql: String =
    s"""WITH RECURSIVE $ngramPairsCtes,
       |pairs AS (
       |  SELECT a_id, b_id
       |  FROM p JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id
       |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |cc(node, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, cc.lbl FROM cc JOIN edges e ON cc.node = e.v)
       |SELECT node AS doc_id, min(lbl) AS cluster_id
       |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin

  /** Containment near-dup (asymmetric): `|A∩B| / |A|` ≥ threshold flags A
    * as (near-)CONTAINED in B — the quote/aggregator/boilerplate-wrapper
    * duplication Jaccard structurally misses when the two documents differ
    * in size (|A∩B|/|A∪B| stays low however completely A sits inside B).
    * Same two-shuffle posting-list plan as [[ngramJaccardPairs]]; the
    * unordered pair explodes into its two directed containment readings at
    * the very end (output-sized, not plan-sized).
    */
  def containmentPairs(s: SparkSession, d: String, threshold: Double = 0.9): DataFrame = {
    val p = shingleHashDocs(s, d)
      .select(struct(col("doc_id"), col("n")).as("dn"), explode(col("sh")).as("s"))
      .groupBy("s").agg(collect_list(col("dn")).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= StopShingleCap)
      .select(explode(HashFunctions.pair_combos(col("ds"))).as("p"))
      .select(col("p.a_id"), col("p.b_id"), col("p.nn"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"), first(col("nn")).as("nn"))
      .withColumn("na", shiftrightunsigned(col("nn"), 32))
      .withColumn("nb", col("nn").bitwiseAND(lit(0xffffffffL)))
    p.select(col("a_id").as("inner_id"), col("b_id").as("outer_id"),
        col("common"), col("na").as("n_inner"))
      .unionAll(p.select(col("b_id").as("inner_id"), col("a_id").as("outer_id"),
        col("common"), col("nb").as("n_inner")))
      .filter(col("common") * lit(1.0) / col("n_inner") >= threshold)
      .select(col("inner_id"), col("outer_id"), col("common"), col("n_inner"),
        round(col("common") * lit(1.0) / col("n_inner"), 4).as("containment"))
      .orderBy("inner_id", "outer_id")
  }

  val containmentPairsSql: String =
    s"""WITH $ngramPairsCtes,
       |b AS (
       |  SELECT a_id AS inner_id, b_id AS outer_id, common, ca.n AS n_inner
       |  FROM p JOIN c ca ON ca.doc_id = a_id
       |  UNION ALL
       |  SELECT b_id, a_id, common, cb.n
       |  FROM p JOIN c cb ON cb.doc_id = b_id)
       |SELECT inner_id, outer_id, CAST(common AS BIGINT) AS common,
       |       CAST(n_inner AS BIGINT) AS n_inner,
       |       round(common * 1.0 / n_inner, 4) AS containment
       |FROM b WHERE common * 1.0 / n_inner >= 0.9
       |ORDER BY inner_id, outer_id""".stripMargin

  /** Oracle for the keep-longest canonicalization over the same clusters:
    * the connected-components CTE joined back to document lengths, argmax
    * (n_chars desc, doc_id asc) per cluster — the removal policy real
    * dedup pipelines apply (keep the most complete copy), vs
    * `d_cluster_canon`'s min-id canonical LABEL.
    */
  val canonLongestSql: String =
    s"""WITH RECURSIVE $ngramPairsCtes,
       |pairs AS (
       |  SELECT a_id, b_id
       |  FROM p JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id
       |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |cc(node, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, cc.lbl FROM cc JOIN edges e ON cc.node = e.v),
       |cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY node),
       |j AS (SELECT cl.cluster_id, cl.doc_id, coalesce(d.n_chars, 0) AS nc
       |      FROM cl JOIN documents d USING (doc_id)),
       |k AS (SELECT cluster_id, doc_id AS keep_doc, nc AS keep_chars FROM (
       |        SELECT cluster_id, doc_id, nc,
       |          row_number() OVER (PARTITION BY cluster_id ORDER BY nc DESC, doc_id) AS rn
       |        FROM j) WHERE rn = 1),
       |n AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM j GROUP BY cluster_id)
       |SELECT k.cluster_id, k.keep_doc, CAST(k.keep_chars AS BIGINT) AS keep_chars,
       |       n.n_members, CAST(n.n_members - 1 AS BIGINT) AS n_dropped
       |FROM k JOIN n USING (cluster_id) ORDER BY cluster_id""".stripMargin

  /** Duplicated-span fraction per document (the RefinedWeb/Gopher
    * "characters in duplicated n-grams" signal, at 3-word-shingle
    * granularity): the share of a doc's distinct shingles that appear in at
    * least one OTHER document. Plan: hash-shingle projection → posting
    * count per 64-bit key (partial-aggregable) → join back on the 8-byte
    * key → per-doc ratio. Two shuffles and a key-join, no strings moved.
    * Docs with fewer than 3 tokens have no shingles and no row (same set in
    * the oracle).
    */
  def dupSpanFrac(s: SparkSession, d: String): DataFrame = {
    val sh = shingleHashDocs(s, d)
      .select(col("doc_id"), explode(col("sh")).as("sk"))
      .localCheckpoint(true) // feeds both the posting count and the join back
    val df = sh.groupBy("sk").agg(count(lit(1)).as("c"))
    sh.join(df, Seq("sk"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("c") > 1, 1).otherwise(0)).cast("double").as("dup"),
        count(lit(1)).cast("double").as("n"))
      .select(col("doc_id"), (col("dup") / col("n")).as("dup_span_frac"))
      .orderBy("doc_id")
  }
  val dupSpanFracSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3)),
      |df AS (SELECT s, count(*) AS c FROM sh GROUP BY 1)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_span_frac
      |FROM sh JOIN df USING (s) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shingle novelty per document — [[dupSpanFrac]]'s temporal cousin, the
    * corpus-growth signal: the share of a doc's distinct shingles whose
    * FIRST corpus occurrence (min doc_id, ingestion order) is this doc.
    * Low novelty late in the corpus = diminishing returns from that
    * source; it is the per-doc decomposition of the "new n-grams per
    * ingested batch" curve data teams watch. Same plan as dupSpanFrac —
    * hash-shingle projection → `min(doc_id)` per 64-bit key (partial-agg)
    * → key join back → per-doc ratio; only the aggregate differs. Docs
    * with < 3 tokens have no shingles and no row (same set in the oracle).
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = shingleHashDocs(s, d)
      .select(col("doc_id"), explode(col("sh")).as("sk"))
      .localCheckpoint(true) // feeds the first-seen table and the join back
    val first = sh.groupBy("sk").agg(min("doc_id").as("fd"))
    sh.join(first, Seq("sk"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_shingles"),
        round(col("n_new").cast("double") / col("n_shingles").cast("double"), 4)
          .as("novelty"))
      .orderBy("doc_id")
  }
  val ngramNoveltySql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3)),
      |f AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |  round(CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novelty
      |FROM sh JOIN f USING (s) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val MinHashK = 8      // signature length: 2 md5 digests × 4 sliced 32-bit components
  val BandRows = 2      // rows per band → 4 bands; P(cand | j=0.99) ≈ 1-(1-0.98)⁴

  /** Per-doc MinHash signature via the native expression — one projection. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    shingleDocs(s, d)
      .select(col("doc_id"),
        HashFunctions.minhash_signature(col("sh"), MinHashK).as("sig"))

  /** MinHash+LSH: band the signature into [[MinHashK]]/[[BandRows]] bucket
    * keys, self-join on (band, key), estimate similarity as the matching
    * signature fraction. The only pairwise work is within buckets.
    */
  def minhashLshPairs(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSignatures(s, d)
    val nBands = MinHashK / BandRows
    // Eager localCheckpoint: the banded-signature table feeds BOTH sides of
    // the self-join; without materialization each side re-runs the k·|sh|
    // md5 signature pass. ~4 rows/doc, so the materialized side is tiny.
    // (At multi-node scale: persist(MEMORY_AND_DISK) — same intent.)
    // band key = xxhash64 of (band | its signature slice): an 8-byte join
    // key instead of a ~17-char string. The oracle builds the same candidate
    // set from its string keys; the two sets differ only on a 64-bit
    // collision between distinct (band, slice) pairs (P ≈ rows²/2⁶⁵ — the
    // same contract as the posting-list keys, and the gate would flag one).
    val bands = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until nBands).map(b =>
        xxhash64(lit(b), array_join(slice(col("sig"), b * BandRows + 1, BandRows), ","))): _*))
        .as("bk"))
      .select(col("doc_id"), col("sig"), col("bk"))
      .localCheckpoint(true)
    val a = bands.select(col("doc_id").as("a_id"), col("sig").as("sa"), col("bk"))
    val b = bands.select(col("doc_id").as("b_id"), col("sig").as("sb"), col("bk"))
    a.join(b, Seq("bk")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (HashFunctions.eq_count(col("sa"), col("sb")).cast("double") / MinHashK).as("raw"))
      .distinct()
      .select(col("a_id"), col("b_id"), round(col("raw"), 4).as("est_sim"))
      .orderBy("a_id", "b_id")
  }
  val minhashLshSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3)),
       |mh AS (SELECT doc_id, seed,
       |         min(substr(md5((seed // 4)::VARCHAR || '|' || s), (seed % 4) * 8 + 1, 8)) AS mh
       |       FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${MinHashK - 1})) AS seed) GROUP BY 1, 2),
       |bands AS (SELECT doc_id, seed // $BandRows AS band, string_agg(mh, ',' ORDER BY seed) AS key
       |          FROM mh GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id,
       |  round(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) * 1.0 / $MinHashK, 4) AS est_sim
       |FROM cand JOIN mh ma ON ma.doc_id = a_id JOIN mh mb ON mb.doc_id = b_id AND mb.seed = ma.seed
       |GROUP BY a_id, b_id ORDER BY a_id, b_id""".stripMargin

  /** LSH quality evaluation — the QA report behind every "LSH recall"
    * claim in this module: confusion counts of the MinHash-LSH candidate
    * pairs against the EXACT thresholded-Jaccard ground truth
    * ([[prefixFilterPairs]] — the stop-cap-lossless leg, so the truth set
    * has no generation gaps of its own). `tp` = true pairs LSH surfaced,
    * `fn` = true pairs it missed (banding probability), `fp` = candidates
    * whose exact similarity is below threshold (band collisions).
    * Precision/recall are single IEEE divisions of exact longs.
    *
    * Plan: both legs are the existing bucketed plans; the confusion join
    * is a full-outer on the (a_id, b_id) pair key — pair-set-sized, tiny
    * next to the legs themselves. One output row.
    */
  def lshEval(s: SparkSession, d: String): DataFrame = {
    // OVERLAP the two legs' eager materializations (r19, guide §2.6):
    // each leg checkpoints its shingle/signature tables internally, and
    // built sequentially those jobs serialize with the box mostly idle
    // (the legs are independent by construction — that is the point of
    // the eval). Same pattern as the curation funnel's component overlap.
    val (truth, cand) = graft.Overlap.both(s)(
      prefixFilterPairs(s, d).select(col("a_id"), col("b_id"), lit(1).as("t")),
      minhashLshPairs(s, d).select(col("a_id"), col("b_id"), lit(1).as("c")))
    truth.join(cand, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L).otherwise(0L)).as("tp"),
        sum(when(col("t").isNull && col("c").isNotNull, 1L).otherwise(0L)).as("fp"),
        sum(when(col("t").isNotNull && col("c").isNull, 1L).otherwise(0L)).as("fn"))
      // an all-unique corpus produces ZERO candidates (precision 0/0) or
      // ZERO true pairs (recall 0/0): NULL via the NumOps.safeDiv contract
      // (= DuckDB's native x/0 → NULL), never an ANSI DIVIDE_BY_ZERO
      .withColumn("precision", graft.functions.NumOps.safeDiv(
        col("tp").cast("double"), (col("tp") + col("fp")).cast("double")))
      .withColumn("recall", graft.functions.NumOps.safeDiv(
        col("tp").cast("double"), (col("tp") + col("fn")).cast("double")))
  }

  /** Oracle composes the two legs' own oracle SQL as subqueries — the
    * confusion counts are pinned against the same ground truth the legs
    * are. (`lazy`: it quotes vals declared later in this object; eager
    * init would embed nulls.) */
  lazy val lshEvalSql: String =
    s"""WITH truth AS (SELECT a_id, b_id FROM ($prefixFilterSql)),
       |cand AS (SELECT a_id, b_id FROM ($minhashLshSql)),
       |j AS (SELECT COALESCE(t.a_id, c.a_id) AS a_id,
       |             t.a_id IS NOT NULL AS in_t, c.a_id IS NOT NULL AS in_c
       |      FROM truth t FULL OUTER JOIN cand c
       |        ON t.a_id = c.a_id AND t.b_id = c.b_id)
       |SELECT CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       |  CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |  CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN NOT in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(sum(CASE WHEN in_t AND NOT in_c THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |  CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS DOUBLE) AS precision,
       |  CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS DOUBLE) AS recall
       |FROM j""".stripMargin

  val SimHashBits = 32  // from the first 8 hex chars of md5(token)

  /** Per-doc 32-bit SimHash via the native [[graft.catalyst.SimHash32]]
    * expression: each token votes ±1 on each bit of md5(token)[0:8]; bit set
    * where the vote sum is positive. Term-frequency weighting comes from
    * token multiplicity. One shuffle-free projection per doc.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    // sort the raw rows first: a projection below the range sort is
    // evaluated twice (the partitioner's reservoir sampler drains the
    // child iterator), and simhash32 is the expensive part of this query
    Tables.fanOut(Tables.documents(s, d).select("doc_id", "text"))
      .orderBy("doc_id")
      .select(col("doc_id"),
        HashFunctions.simhash32(TextOps.tokens(col("text"))).as("simhash"))
  val simhashSql: String =
    s"""WITH toks AS (SELECT doc_id, substr(md5(unnest(regexp_split_to_array(trim(text), '\\s+'))), 1, 8) AS h8
       |             FROM documents),
       |bits AS (
       |  SELECT doc_id, p,
       |    CASE p % 4 WHEN 0 THEN (strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) % 2
       |               WHEN 1 THEN ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 2) % 2
       |               WHEN 2 THEN ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 4) % 2
       |               ELSE ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 8) % 2 END AS bit
       |  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, ${SimHashBits - 1})) AS p)),
       |votes AS (SELECT doc_id, p, sum(bit * 2 - 1) AS vote FROM bits GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val simhashPairsSql: String =
    s"""WITH toks AS (SELECT doc_id, substr(md5(unnest(regexp_split_to_array(trim(text), '\\s+'))), 1, 8) AS h8
       |             FROM documents),
       |bits AS (
       |  SELECT doc_id, p,
       |    CASE p % 4 WHEN 0 THEN (strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) % 2
       |               WHEN 1 THEN ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 2) % 2
       |               WHEN 2 THEN ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 4) % 2
       |               ELSE ((strpos('0123456789abcdef', substr(h8, (p // 4) + 1, 1)) - 1) // 8) % 2 END AS bit
       |  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, ${SimHashBits - 1})) AS p)),
       |votes AS (SELECT doc_id, p, sum(bit * 2 - 1) AS vote FROM bits GROUP BY 1, 2),
       |sh AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS simhash
       |       FROM votes GROUP BY doc_id),
       |chunks AS (SELECT doc_id, simhash, c,
       |  (simhash // CAST(2 ** (c * 8) AS BIGINT)) % 256 AS chunk
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c)),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 6 ORDER BY a_id, b_id""".stripMargin

  /** SimHash near-dup pairs: band on the 4 bytes of the signature (a pair
    * within small Hamming distance must agree on ≥1 byte by pigeonhole up to
    * distance 7), then verify `bit_count(xor) <= maxHamming` on candidates.
    */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 6): DataFrame = {
    val sh = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"),
        HashFunctions.simhash32(TextOps.tokens(col("text"))).as("simhash"))
    // materialize once — both self-join sides read the checkpoint instead
    // of re-hashing every document (see minhashLshPairs)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c => struct(lit(c).as("c"),
        shiftright(col("simhash"), c * 8).bitwiseAND(lit(255L)).as("chunk"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.c"), col("x.chunk"))
      .localCheckpoint(true)
    val a = chunks.select(col("doc_id").as("a_id"), col("simhash").as("ha"), col("c"), col("chunk"))
    val b = chunks.select(col("doc_id").as("b_id"), col("simhash").as("hb"), col("c"), col("chunk"))
    a.join(b, Seq("c", "chunk")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      // filter BEFORE distinct: hamming is per-row computable, so the
      // threshold drops most candidates before the dedup shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Prefix-filter similarity-join threshold as an exact rational (4/5):
    * every length/overlap test below runs in integer arithmetic, because
    * `ceil(0.8 * n)` in doubles can round the wrong way (0.8*5 =
    * 4.0000000000000002 → ceil 5) and a too-SHORT prefix silently loses
    * true pairs.
    */
  val PfNum = 4L
  val PfDen = 5L

  /** Prefix-filtered set-similarity join (the PPJoin/AllPairs candidate
    * rule — Bayardo et al. WWW'07, Xiao et al. WWW'08, public folklore):
    * order each doc's shingles by ascending global document frequency
    * (rarest first, ties by the 64-bit shingle key — a total order), and
    * index only the first `|x| − ⌈t·|x|⌉ + 1` of them. Any pair with
    * Jaccard ≥ t MUST collide on at least one prefix shingle: if the
    * smallest shared shingle sat outside (wlog) A's prefix, every shared
    * shingle would sit in A's suffix, so |A∩B| ≤ ⌈t·|A|⌉ − 1 — too few for
    * J ≥ t once the size filter `t·|B| ≤ |A|` holds. Candidates therefore
    * come from posting lists over PREFIX shingles only; frequent
    * (boilerplate) shingles land in suffixes and never fan out — the
    * quadratic bucket blow-up that [[StopShingleCap]] truncates away in
    * [[ngramJaccardPairs]] is avoided here WITHOUT dropping any pair, so
    * the result is the exact thresholded join.
    *
    * Verification joins candidates back to the full (distinct) shingle-hash
    * arrays and tests `|A∩B| · 5 ≥ (|A|+|B|−|A∩B|) · 4` in integers.
    *
    * Plan: df count (one hash agg on 8-byte keys), per-doc rank (window
    * partitioned by doc — per-doc cardinality, scale-safe), prefix posting
    * self-join, then a candidate-only verify join. At 100 TB the prefix
    * index is ~(1−t)·|shingles| rows and the verify join touches only
    * surviving pairs.
    */
  def prefixFilterPairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = shingleHashDocs(s, d).filter(col("n") > 0).localCheckpoint(true)
    val ex = docs.select(col("doc_id"), col("n"), explode(col("sh")).as("sk"))
    val dfreq = ex.groupBy("sk").agg(count(lit(1)).as("df"))
    val pfx = ex.join(dfreq, "sk")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sk"))))
      .filter(col("r") <= expr(s"n - ((n * $PfNum + ${PfDen - 1}) div $PfDen) + 1"))
      .select(col("doc_id"), col("n"), col("sk"))
    val cand = pfx.as("a").join(pfx.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id") &&
          // size filter: J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|)
          col("a.n") * PfDen >= col("b.n") * PfNum &&
          col("b.n") * PfDen >= col("a.n") * PfNum)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val da = docs.select(col("doc_id").as("a_id"), col("sh").as("sha"), col("n").as("na"))
    val db = docs.select(col("doc_id").as("b_id"), col("sh").as("shb"), col("n").as("nb"))
    cand.join(da, "a_id").join(db, "b_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .filter(col("common") * PfDen >= (col("na") + col("nb") - col("common")) * PfNum)
      .select(col("a_id"), col("b_id"),
        round(col("common").cast("double") / (col("na") + col("nb") - col("common")), 4)
          .as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Candidate-pair count of the prefix index vs. the plain (uncapped)
    * posting-list join — the measured pruning ratio pinned by the spec.
    */
  def prefixCandidateCounts(s: SparkSession, d: String): (Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val docs = shingleHashDocs(s, d).filter(col("n") > 0).localCheckpoint(true)
    val ex = docs.select(col("doc_id"), col("n"), explode(col("sh")).as("sk"))
    val plain = ex.as("a").join(ex.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val dfreq = ex.groupBy("sk").agg(count(lit(1)).as("df"))
    val pfx = ex.join(dfreq, "sk")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sk"))))
      .filter(col("r") <= expr(s"n - ((n * $PfNum + ${PfDen - 1}) div $PfDen) + 1"))
      .select(col("doc_id"), col("n"), col("sk"))
    val pruned = pfx.as("a").join(pfx.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * PfDen >= col("b.n") * PfNum &&
          col("b.n") * PfDen >= col("a.n") * PfNum)
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    (plain, pruned)
  }

  val prefixFilterSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3)),
       |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
       |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard
       |FROM p JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id
       |WHERE common * $PfDen >= (ca.n + cb.n - common) * $PfNum
       |ORDER BY a_id, b_id""".stripMargin

  // ---- exact substring-span dedup (Lee et al. 2021) ----------------------

  /** Window width in tokens. Lee et al. use 50; the synthetic corpus' docs
    * average ~54 tokens, so 10 keeps the operator's behavior visible at
    * test scale — the construction is width-independent.
    */
  val SpanW = 10

  /** EXACT substring-span dedup accounting (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the ExactSubstr method): every `SpanW`-token
    * window is hashed; a window whose hash occurs in ≥2 DISTINCT documents
    * is a duplicated span, and per document the report carries the window
    * count, the duplicated-window count, and the number of tokens covered
    * by the union of duplicated spans (the "how much of this doc is
    * boilerplate shared with the corpus" number a cleaning pass thresholds
    * on). Lee et al. suffix-array the corpus on one machine; the
    * distributed equivalent is this hash-and-shuffle: one
    * partial-aggregable groupBy on the window hash replaces the global
    * suffix sort.
    *
    * Scale shape: windows ≈ tokens (one row per position) — the ONE
    * data-scale shuffle is the groupBy(hash) for cross-doc counts
    * (partial-aggregable), then a semi-join back. The interval-union pass
    * runs in windows PARTITIONED BY doc_id and bounded by the document's
    * own window count — never a global sort. The md5-of-joined-span hash
    * is the oracle-replayable form; a production run swaps in a rolling /
    * native hash ([[graft.catalyst.ShingleHashes3]]'s shape generalized to
    * W) to avoid materializing the W-token span string per position, and
    * widens W to 50.
    */
  def substringSpans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.fanOut(Tables.documents(s, d))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), graft.functions.TextOps.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= SpanW)
    val win = t.select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${SpanW - 1}), " +
          s"p -> struct(p AS p, md5(array_join(slice(w, p, $SpanW), ' ')) AS h))")).as("x"))
      .select(col("doc_id"), col("x.p").as("p"), col("x.h").as("h"))
      .localCheckpoint(true) // feeds the cross-doc counts AND the semi-join
    val crossDoc = win.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd")).filter(col("nd") >= 2)
      .select("h")
    val dw = win.join(crossDoc, Seq("h"), "left_semi")
    // interval union of [p, p+W-1] per doc: gaps-and-islands on the sorted
    // positions — a window spans a NEW island iff it starts past the
    // running max end of everything before it
    val before = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cover = dw
      .withColumn("pmax", max("p").over(before))
      .withColumn("ni", when(col("pmax").isNull ||
        col("p") > col("pmax") + lit(SpanW - 1), 1).otherwise(0))
      .withColumn("isl", sum("ni").over(upToHere))
      .groupBy("doc_id", "isl")
      .agg((max("p") + lit(SpanW - 1) - min("p") + 1).as("cov"),
        count(lit(1)).as("nw"))
      .groupBy("doc_id")
      .agg(sum("cov").as("covered_tokens"), sum("nw").as("n_dup_windows"))
    win.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .orderBy("doc_id")
  }
  val substringSpansSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |           FROM documents WHERE text IS NOT NULL),
       |tw AS (SELECT doc_id, w FROM t WHERE len(w) >= $SpanW),
       |win AS (SELECT doc_id, unnest(generate_series(1, len(w) - ${SpanW - 1})) AS p, w FROM tw),
       |h AS (SELECT doc_id, p, md5(array_to_string(w[p:p+${SpanW - 1}], ' ')) AS h FROM win),
       |dup AS (SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |dw AS (SELECT doc_id, p FROM h JOIN dup USING (h)),
       |m AS (SELECT doc_id, p, max(p) OVER (PARTITION BY doc_id ORDER BY p
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM dw),
       |i AS (SELECT doc_id, p,
       |        CASE WHEN pmax IS NULL OR p > pmax + ${SpanW - 1} THEN 1 ELSE 0 END AS ni FROM m),
       |s AS (SELECT doc_id, p, sum(ni) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM i),
       |c AS (SELECT doc_id, isl, max(p) + ${SpanW - 1} - min(p) + 1 AS cov, count(*) AS nw
       |      FROM s GROUP BY doc_id, isl),
       |cd AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS covered_tokens,
       |         CAST(sum(nw) AS BIGINT) AS n_dup_windows FROM c GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM h GROUP BY doc_id)
       |SELECT tot.doc_id, n_windows,
       |  COALESCE(n_dup_windows, 0) AS n_dup_windows,
       |  COALESCE(covered_tokens, 0) AS covered_tokens
       |FROM tot LEFT JOIN cd USING (doc_id) ORDER BY tot.doc_id""".stripMargin

  /** Cross-source shingle-set overlap matrix: per source pair, the Jaccard
    * of their DISTINCT 3-word-shingle sets — the "which corpora duplicate
    * each other" triage (CommonCrawl-vs-C4-style) a mixture designer runs
    * before weighting sources, at corpus granularity instead of
    * [[ngramJaccardPairs]]'s document granularity.
    *
    * Scale shape: one (source, 64-bit-shingle-hash) distinct projection
    * (shuffle #1), then the per-shingle source fan-out — bounded by the
    * SOURCE COUNT squared per shingle, never by documents — feeds one
    * partial-aggregable groupBy(pair). Source sizes are a |sources|-row
    * broadcast. The Spark side never materializes a shingle string
    * (native [[graft.catalyst.ShingleHashes3]]); the oracle replays on
    * strings — counts agree barring a 64-bit collision (~n²/2⁶⁵, and the
    * gate would flag one).
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.fanOut(Tables.documents(s, d))
      .filter(col("text").isNotNull)
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"), explode(HashFunctions.shingle_hashes3(col("toks"))).as("h"))
      .distinct()
      .localCheckpoint(true) // sizes + both sides of the pair join
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.select(col("h"), col("source").as("src_a"))
      .join(sh.select(col("h"), col("source").as("src_b")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") * lit(1.0) / (col("na") + col("nb") - col("n_shared")), 4)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapSql: String =
    """WITH toks AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
      |              FROM documents WHERE text IS NOT NULL),
      |sh AS (SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM (SELECT source, t, unnest(generate_series(1, len(t)-2)) AS i
      |             FROM toks WHERE len(t) >= 3)),
      |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
      |p AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |       round(n_shared * 1.0 / (ca.n + cb.n - n_shared), 4) AS jaccard
      |FROM p JOIN c ca ON ca.source = src_a JOIN c cb ON cb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin
}
